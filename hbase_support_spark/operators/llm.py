"""§2.9 LLM-training-data pipeline operators (mandated extension).

Deduplication (exact / MinHash-LSH / SimHash / n-gram Jaccard /
embedding-cosine), similarity search (brute-force + blocked ANN),
and text analysis (tokenize, TF-IDF, sentiment lexicon, language-ID,
quality scoring, fingerprinting) over `documents` + `embeddings`.
Paper grounding: sentiment-lexicon join on Spark (EDBT 2016) and
distributed top-k similarity with blocking (ICDE 2021 / SIGMOD 2020)
— see PAPERS.md.

Everything is built-in expressions (higher-order array lambdas,
xxhash64) — zero Python UDFs, so the whole module stays inside
whole-stage codegen.

Scale design (the part that matters at 100 TB):
  * Near-dup never goes O(n²): MinHash-LSH banding makes candidate
    generation a groupBy on band hashes; SimHash bands likewise;
    n-gram Jaccard and cosine pairs are blocked on (lang, source) /
    label. Quadratic work only happens inside a bucket/block.
  * Signatures are computed in one projection pass (64 hashes via
    transform(sequence(...))) — map-only, no shuffle until the
    band groupBy.
  * Giant LSH buckets (skew) are capped with a per-bucket size
    guard before pair expansion — the standard salting/clamp escape
    hatch; the cap is generous at test SF and logged in the plan.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from ..io import load_table, pin as _pin, scratch_root
from ..num import d_round_ie, nopush, round_ie, round_z
from ..registry import register

# ---------------------------------------------------------------------------
# shared text kernels (column expressions, composable)
# ---------------------------------------------------------------------------

TOKENS = "filter(split(lower(text), ' '), w -> w <> '')"
DISTINCT_TOKENS = f"array_distinct({TOKENS})"
# 3-word shingles (GPT-3/C4-style near-dup unit). Docs with <3 tokens
# yield an EMPTY shingle set in both engines: the CASE guard keeps
# element_at in bounds (Spark 4 ANSI sessions throw on out-of-range
# indexes) and avoids the engines' divergent NULL handling for short
# docs (concat_ws skips NULLs, DuckDB || propagates them).
SHINGLES = (
    f"CASE WHEN size({TOKENS}) >= 3 THEN"
    f" array_distinct(transform(sequence(1, size({TOKENS}) - 2),"
    f" i -> concat_ws(' ', element_at({TOKENS}, i),"
    f" element_at({TOKENS}, i + 1), element_at({TOKENS}, i + 2))))"
    f" ELSE cast(array() AS array<string>) END"
)
# Fast construction over a pre-staged `toks` column: zip_with of three
# shifted slices instead of element_at into the token expression.
# Inlining TOKENS into each element_at (the SHINGLES form above, kept
# for reference/tests) re-runs split() per element — measured 12x
# slower at sf0.1. Staging `toks` as its own projection computes it
# once per row: CollapseProject inlines single-use aliases but keeps
# multi-referenced non-cheap expressions staged. Result-identical
# (verified element-wise at sf0.1).
SHINGLES_FROM_TOKS = (
    "CASE WHEN size(toks) >= 3 THEN"
    " array_distinct(zip_with(zip_with(slice(toks, 1, size(toks) - 2),"
    " slice(toks, 2, size(toks) - 2), (x, y) -> concat(x, ' ', y)),"
    " slice(toks, 3, size(toks) - 2), (x, y) -> concat(x, ' ', y)))"
    " ELSE cast(array() AS array<string>) END"
)


def with_shingles(df, *keep, nonempty: bool = False):
    """Project ``keep`` columns plus a ``shingles`` column, staging
    tokenization exactly once (see SHINGLES_FROM_TOKS note).

    ``nonempty=True`` drops shingle-free docs by filtering
    ``size(toks) >= 3`` BELOW the shingle projection — equivalent to
    the old call-site ``.filter(size(shingles) > 0)`` (a ≥3-token doc
    always yields ≥1 trigram; a shorter one yields the CASE's empty
    array), but the pushed-down spelling of that filter inlined the
    whole zip_with/array_distinct shingle expression into the Filter
    node, building every doc's shingle array TWICE (r12 catch; the
    token-count filter only re-runs the tokenizer)."""
    from pyspark.sql import functions as F

    staged = df.select(*keep, F.expr(TOKENS).alias("toks"))
    if nonempty:
        staged = staged.filter(F.size("toks") >= 3)
    return staged.select(*keep, F.expr(SHINGLES_FROM_TOKS).alias("shingles"))
# DuckDB twins
D_TOKENS = "list_filter(string_split(lower(text), ' '), w -> w <> '')"
D_DISTINCT_TOKENS = f"list_distinct({D_TOKENS})"
D_SHINGLES = (
    f"CASE WHEN len({D_TOKENS}) >= 3 THEN"
    f" list_distinct(list_transform(range(1, len({D_TOKENS}) - 1),"
    f" i -> {D_TOKENS}[i] || ' ' || {D_TOKENS}[i+1] || ' ' || {D_TOKENS}[i+2]))"
    f" ELSE [] END"
)

# Engine-portable 60-bit hash (see hashutil module docstring): this is
# what makes hash-defined operators (SimHash, Count-Min, bucket
# digests) fully SQL-oracled — the oracle re-states the SAME hash
# arithmetic, not an approximation.
from ..hashutil import d_h60 as _d_h60  # noqa: E402
from ..hashutil import h60 as _h60  # noqa: E402


def _dot(a, b):
    """Double-precision dot product of two float arrays (JVM-side)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a):
    return F.sqrt(_dot(a, a))


# SQL twin: cosine via per-dimension unnest (exact same double math)
def _d_cosine(a: str, b: str) -> str:
    return (
        f"SUM(CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)) / "
        f"(SQRT(SUM(CAST({a}[i] AS DOUBLE) * CAST({a}[i] AS DOUBLE))) * "
        f"SQRT(SUM(CAST({b}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE))))"
    )


# Hard ceiling for the blocked-exact embedding-pair family: a 16384-
# vector block means a 2 GiB float64 Gram matrix in the BLAS kernels
# and ~1.3e8 expression-fold pairs in the expression twin — the
# practical per-block limit of any O(block²) route. Blocks past it
# must ride the sub-quadratic paths (LSH hyperplanes, IVF cells).
# Same enforced-quarantine principle as NGRAM_EXACT_BLOCK_CAP.
VEC_PAIR_BLOCK_CAP = 16384


def _check_vec_block(n: int) -> None:
    """In-kernel guard (free — no extra Spark job): raise when one
    label block exceeds the O(block²) ceiling, pointing at the
    sub-quadratic production routes."""
    if n > VEC_PAIR_BLOCK_CAP:
        raise ValueError(
            f"embedding-pair block has {n} vectors (> cap {VEC_PAIR_BLOCK_CAP});"
            " the O(block^2) pair route is bounded by design. Re-cluster into"
            " smaller cells (sim_knn_ivf / ann_index) or use the sub-quadratic"
            " candidates (sim_lsh_hyperplane)."
        )


def _assert_vec_blocks_bounded(e, block_col: str = "label") -> None:
    """Pre-join guard for the expression-fold pair twin (no kernel to
    check inside): one column-pruned agg + single-scalar collect."""
    hot = (
        e.groupBy(block_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("mx"))
        .collect()[0]["mx"]
    )
    if hot is not None:
        _check_vec_block(int(hot))


def _fold_cos6(ea, eb):
    """EXACT fold-expression cosine rounded to 6 — the bit-for-bit
    twin of the oracle's `_d_cosine`.

    The BLAS Gram kernels stay the candidate GENERATORS (native
    matmul per block — the 100-TB scale path), but their
    normalize-then-matmul double result can differ from the fold in
    the last ulp; when that ulp sits exactly on a round-6 boundary
    the hashed value (or a τ-membership) flips between engines
    (ADVICE r04). So each kernel CARRIES the surviving pairs' raw
    vectors out through Arrow (bytes proportional to the pair
    output, not the block cross product) and this map-only fold
    re-scores them exact-by-construction — measured cheaper at
    sf0.1 than joining back to the vector table (join stages cost
    ~0.3 s of AQE scheduling for the same answer)."""
    return F.round(_dot(ea, eb) / (_norm(ea) * _norm(eb)), 6)


# ---------------------------------------------------------------------------
# deduplication
# ---------------------------------------------------------------------------


@register(
    "dedup_exact",
    oracle="""
    SELECT SHA256(LOWER(TRIM(text))) AS content_hash,
           MIN(doc_id) AS keeper_doc_id,
           COUNT(*) AS dup_count
    FROM documents
    GROUP BY SHA256(LOWER(TRIM(text)))
    """,
)
def dedup_exact(spark, sf_dir):
    """Exact dedup at 100 TB: hash normalized content, keep min id
    per hash. One shuffle on the 32-byte digest (never on the text
    itself); partial agg collapses duplicates map-side."""
    d = load_table(spark, sf_dir, "documents")
    h = F.sha2(F.lower(F.trim(F.col("text"))), 256)
    return d.groupBy(h.alias("content_hash")).agg(
        F.min("doc_id").alias("keeper_doc_id"),
        F.count("*").alias("dup_count"),
    )


@register(
    "text_source_vocab_overlap",
    oracle=f"""
    WITH sh AS (
      SELECT DISTINCT source, UNNEST({D_SHINGLES}) AS g FROM documents
    ),
    n AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sh FROM sh GROUP BY source),
    shared AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(COUNT(*) AS BIGINT) AS shared_sh
      FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT s.source_a, s.source_b, s.shared_sh,
           na.n_sh AS n_a, nb.n_sh AS n_b,
           {d_round_ie("s.shared_sh * 1.0 / (na.n_sh + nb.n_sh - s.shared_sh)", 6)}
             AS vocab_jaccard
    FROM shared s
    JOIN n na ON na.source = s.source_a
    JOIN n nb ON nb.source = s.source_b
    """,
)
def text_source_vocab_overlap(spark, sf_dir):
    """Source-by-source 3-gram vocabulary overlap matrix — which
    crawls/feeds duplicate each other's CONTENT SPACE (the planning
    view before cross-source dedup: a pair with high vocabulary
    Jaccard is where `dedup_near_minhash` should spend its budget,
    and a train-source sharing vocabulary mass with an eval source
    is a contamination flag before any doc-level match exists).

    Scale shape (r12 restructure, guide §2.4): ONE shuffle on the
    shingle — groupBy(g).collect_set(source) (set bounded by #sources,
    a few hundred; partial sets combine map-side) — and both the
    per-source vocabulary sizes and the shared counts derive from the
    pinned per-shingle source set via in-row pair expansion. The old
    spelling shuffled the distinct (source, g) projection THREE times
    (the distinct itself + both sides of a shingle-keyed self sort-
    merge join); at sf0.1 the two shapes tie (the explode dominates)
    but at the x32 bounded replica the join shuffles dominate — see
    OPTIMIZATION_r12.md for the measured split. Value-identical:
    distinct == set semantics, the expanded (s1 < s2) pairs per
    shingle are exactly the join's matches. The matrix itself is
    #sources² rows. Safe at 100 TB by construction; no document pair
    is ever formed."""
    d = load_table(spark, sf_dir, "documents")
    occ = with_shingles(d, "source").select("source", F.explode("shingles").alias("g"))
    per_g = _pin(
        occ.groupBy("g").agg(F.sort_array(F.collect_set("source")).alias("srcs"))
    )
    n = (
        per_g.select(F.explode("srcs").alias("source"))
        .groupBy("source")
        .agg(F.count("*").cast("bigint").alias("n_sh"))
    )
    shared = (
        per_g.select(
            F.explode(
                F.expr(
                    "flatten(transform(srcs, (s1, i) ->"
                    " transform(slice(srcs, i + 2, size(srcs) - i - 1), s2 ->"
                    " named_struct('source_a', s1, 'source_b', s2))))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.source_a").alias("source_a"), F.col("p.source_b").alias("source_b"))
        .agg(F.count("*").cast("bigint").alias("shared_sh"))
    )
    na = n.select(F.col("source").alias("source_a"), F.col("n_sh").alias("n_a"))
    nb = n.select(F.col("source").alias("source_b"), F.col("n_sh").alias("n_b"))
    return (
        shared.join(F.broadcast(na), "source_a")  # bcast: enum
        .join(F.broadcast(nb), "source_b")  # bcast: enum
        .select(
            "source_a",
            "source_b",
            "shared_sh",
            "n_a",
            "n_b",
            round_ie(
                F.col("shared_sh")
                * 1.0
                / (F.col("n_a") + F.col("n_b") - F.col("shared_sh")),
                6,
            ).alias("vocab_jaccard"),
        )
    )


# Oracle cost control (the driver runs this SQL too): J >= 0.7 forces
# a shingle-count ratio >= 0.7 — the size predicate prunes most of the
# N^2 pairs before LIST_INTERSECT; and since shingle lists are
# list_distinct, |A∪B| = n_a + n_b - |A∩B|, so the intersection is
# computed once. Result-identical to the naive all-pairs form
# (13.7 s -> ~4 s at sf0.01).
_MINHASH_ORACLE = f"""
    WITH sh AS (
      SELECT doc_id, {D_SHINGLES} AS shingles FROM documents
    ),
    sz AS (SELECT doc_id, shingles, LEN(shingles) AS n FROM sh WHERE LEN(shingles) > 0),
    scored AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             LEN(LIST_INTERSECT(a.shingles, b.shingles))::DOUBLE AS inter,
             a.n AS n_a, b.n AS n_b
      FROM sz a JOIN sz b ON a.doc_id < b.doc_id
        AND a.n >= CEIL(0.7 * b.n) AND b.n >= CEIL(0.7 * a.n)
    )
    SELECT doc_a, doc_b,
           {d_round_ie('inter / (n_a + n_b - inter)', 6)} AS jaccard
    FROM scored
    WHERE {d_round_ie('inter / (n_a + n_b - inter)', 6)} >= 0.7
    """


def minhash_pairs(docs, member_cap: int = 256, shingle_cap: int = 1 << 20):
    """MinHash+LSH candidate generation + exact-Jaccard verify over a
    `(doc_id, text)` DataFrame; returns `(doc_a, doc_b, jaccard)` with
    jaccard >= 0.7. Factored out so tests can feed synthetic corpora
    (oversized docs, adversarial buckets) without parquet fixtures.

    Scale shape (restructured r11 after an x128 disk-full): the band
    explode shuffles ONLY (doc_id, n_shingles, band, bucket) — four
    longs per row. The previous spelling carried each doc's full
    shingle array through the 16-band explode, i.e. ~16x the corpus
    bytes through one exchange (observed: a 70 GB shuffle + spill at
    x128 on a 2 GB fixture; unrunnable at 100 TB). Shingles are now
    joined back ONTO THE SURVIVING CANDIDATE PAIRS only (two hash
    joins against the 1x corpus shingle projection; AQE broadcasts
    the candidate side when small — no hint, it grows with data), so
    total shuffle volume is O(corpus + pairs), not O(16 x corpus).

    Memory guards per (band, bucket), applied COUNT-FIRST: pass 1
    aggregates member count and total shingle volume (map-side
    combinable longs), and only buckets within `member_cap` /
    `shingle_cap` are admitted — via semi-join — into the doc-id
    collect. A mass-duplicate bucket (boilerplate at 100 TB) is
    dropped before ANY membership materializes; the collect buffer is
    bounded at member_cap longs by construction. At the verify
    threshold (0.7) an oversized bucket is either a hash pile-up or a
    mass-duplicate cluster that exact dedup already catches.

    r12 CPU restructure (OPTIMIZATION_r12.md, guide §1.2/§2.4): the
    count-first guard's two passes each recomputed the whole
    tokenize→shingle→signature subtree (no exchange reuse — different
    payloads), the pushed-down emptiness filter rebuilt every doc's
    shingle array a second time, and CollapseProject re-inlined the
    base shingle hash into the per-seed lambda (64x). Fixes: filter
    on token count before shingling, stage the base hash as its own
    multi-referenced projection, hash the band slice as longs (no
    per-band string build), pin the 4-long band frame (io.pin,
    DISK_ONLY) so both guard passes read one materialization, and
    compute |A∪B| as nsh_a+nsh_b-inter instead of materializing the
    union array. Value-identical (parity green at sf0.001/sf0.01);
    17.3 s → 2.9 s at sf0.1.
    """
    # Row pruning BEFORE shingle construction (r12, guide §1.2/§2.3):
    # see with_shingles(nonempty=True) — the old call-site emptiness
    # filter built every doc's shingle array twice.
    shing = with_shingles(docs, "doc_id", nonempty=True)
    # Stage base hashes once (one string hash per shingle), then
    # derive the 64 permutations by rehashing the LONG with the seed.
    # `hs` MUST be its own projection referenced >1x (here: size +
    # the seed loop) or CollapseProject inlines it back INSIDE the
    # per-seed lambda and the string hash runs 64x per shingle —
    # measured 3.46 s -> 2.18 s for the signature stage at sf0.1
    # (r12; plan check keeps exactly two xxhash64 sites).
    hashed = shing.select(
        "doc_id", F.expr("transform(shingles, sh -> xxhash64(sh))").alias("hs")
    )
    sigs = hashed.select(
        "doc_id",
        F.size("hs").alias("nsh"),
        F.expr(
            "transform(sequence(0, 63), s ->"
            " array_min(transform(hs, h -> xxhash64(s, h))))"
        ).alias("sig"),
    )
    # 16 bands x 4 rows; bucket key = one multi-arg long hash of the
    # band id + the 4-minhash slice (r12: the previous spelling built
    # 4 decimal strings + a concat per band·doc just to feed the same
    # hash — equal slices bucket together either way, so candidates
    # are unchanged). The band frame is PINNED (io.pin, DISK_ONLY):
    # the count-first guard and the member collect both consume it,
    # and without the pin each branch recomputed the ENTIRE
    # tokenize→shingle→64-perm signature subtree (no exchange reuse —
    # the two exchanges carry different payloads). Pinned rows are 4
    # longs — metadata-scale next to the text they derive from.
    bands = _pin(
        sigs.select(
            "doc_id",
            "nsh",
            F.expr(
                "explode(transform(sequence(0, 15), b ->"
                " named_struct('band', b, 'bucket',"
                " xxhash64(b, element_at(sig, b * 4 + 1), element_at(sig, b * 4 + 2),"
                " element_at(sig, b * 4 + 3), element_at(sig, b * 4 + 4)))))"
            ).alias("bb"),
        ).select(
            "doc_id", "nsh", F.col("bb.band").alias("band"), F.col("bb.bucket").alias("bucket")
        )
    )
    # count-first skew guard (see docstring); the ok-bucket frame
    # grows with data: no broadcast hint, AQE decides
    bucket_ok = (
        bands.groupBy("band", "bucket")
        .agg(
            F.count("*").alias("_m"),
            F.sum("nsh").alias("_vol"),
        )
        .filter(
            (F.col("_m") > 1)
            & (F.col("_m") <= member_cap)
            & (F.col("_vol") <= shingle_cap)
        )
        .select("band", "bucket")
    )
    members = (
        bands.join(bucket_ok, ["band", "bucket"], "left_semi")
        .groupBy("band", "bucket")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("members"))
    )
    cand = (
        members.select(
            F.explode(
                F.expr(
                    "flatten(transform(members, (m1, i) ->"
                    " transform(slice(members, i + 2, size(members) - i - 1), m2 ->"
                    " named_struct('doc_a', m1, 'doc_b', m2))))"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    pairs = cand.join(
        shing.select(
            F.col("doc_id").alias("doc_a"),
            F.col("shingles").alias("sh_a"),
            F.size("shingles").alias("nsh_a"),
        ),
        "doc_a",
    ).join(
        shing.select(
            F.col("doc_id").alias("doc_b"),
            F.col("shingles").alias("sh_b"),
            F.size("shingles").alias("nsh_b"),
        ),
        "doc_b",
    )
    # |A∪B| = |A| + |B| - |A∩B| for the already-distinct shingle
    # arrays (identical to the oracle's n_a + n_b - inter form): one
    # array_intersect per surviving pair, no union array ever built.
    # `inter` gets its own projection for the same CollapseProject
    # reason as `hs` above AND is nopush-wrapped (r13, VERDICT r12
    # item 3): without the barrier PushDownPredicates substituted the
    # intersect into the >= 0.7 join-side filter, so every candidate
    # paid the intersect in the pushed filter and every survivor paid
    # it AGAIN in this projection (plan: 2 array_intersect sites →
    # 1 with the barrier).
    scored = pairs.select(
        "doc_a",
        "doc_b",
        nopush(F.size(F.array_intersect("sh_a", "sh_b"))).alias("inter"),
        "nsh_a",
        "nsh_b",
    )
    jac = F.col("inter") / (F.col("nsh_a") + F.col("nsh_b") - F.col("inter"))
    return (
        scored.withColumn("jaccard", round_ie(jac, 6))
        .filter(F.col("jaccard") >= 0.7)
        .select("doc_a", "doc_b", "jaccard")
    )


@register("dedup_near_minhash", oracle=_MINHASH_ORACLE)
def dedup_near_minhash(spark, sf_dir):
    """Near-dup pairs via MinHash + LSH banding, verified by exact
    Jaccard (the C4/GPT-3 pipeline, public technique). Kernel in
    :func:`minhash_pairs`; plan shape: one projection computes the
    64-perm signature (min over shingle hashes per seed), explode 16
    bands (doc_id + 3 longs per row — shingles do NOT ride the band
    shuffle; r11 scale restructure) → count-first bucket guard
    (member- and shingle-volume-capped BEFORE any membership
    collects) → pair expansion inside buckets only → shingles joined
    back onto the deduped candidate pairs → exact-Jaccard verify.
    Sub-quadratic end-to-end, O(corpus + pairs) shuffle volume.

    Oracle validity: the output is the exact-verified subset of LSH
    candidates, so it equals the full exact-Jaccard pair set iff LSH
    recall is 100% at the 0.7 threshold. On these fixtures that holds
    deterministically (min true-pair Jaccard is 0.9; per-pair miss
    probability (1-0.9^4)^16 ≈ 4e-8, and the xxhash64 signatures are
    fixed, so it's a one-time check, not a flake risk) — verified
    empirically at sf0.001 and sf0.01; tests/test_llm.py pins it.
    """
    return minhash_pairs(load_table(spark, sf_dir, "documents"))


_SIMHASH_ORACLE = f"""
    WITH t AS (
      SELECT doc_id, {D_SHINGLES} AS shingles FROM documents
    ),
    h AS (
      SELECT doc_id,
             list_transform(shingles, sh -> {_d_h60('sh')}) AS hs
      FROM t WHERE len(shingles) > 0
    ),
    sig AS (
      SELECT doc_id,
             list_sum(list_transform(range(0, 48), i ->
               CASE WHEN list_sum(list_transform(hs, hh ->
                      CASE WHEN (hh >> i) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                    THEN (1::BIGINT << i) ELSE 0 END)) AS sig
      FROM h
    ),
    banded AS (
      SELECT doc_id, sig, r.b AS band, (sig >> (r.b * 12)) & 4095 AS key
      FROM sig, range(0, 4) r(b)
    ),
    buckets AS (
      SELECT band, key, COUNT(*) AS n FROM banded GROUP BY band, key
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
                      a.sig AS sig_a, b2.sig AS sig_b
      FROM banded a
      JOIN banded b2 ON a.band = b2.band AND a.key = b2.key
                    AND a.doc_id < b2.doc_id
      JOIN buckets bu ON bu.band = a.band AND bu.key = a.key
                     AND bu.n BETWEEN 2 AND 256
    )
    SELECT doc_a, doc_b, bit_count(xor(sig_a, sig_b)) AS hamming
    FROM cand
    WHERE bit_count(xor(sig_a, sig_b)) <= 8
    """


@register("dedup_simhash", oracle=_SIMHASH_ORACLE)
def dedup_simhash(spark, sf_dir):
    """SimHash near-dup: 48-bit signature over 3-gram shingle hashes
    (bit i = sign of Σ ±1 over shingles — shingles, not raw tokens:
    on a shared-vocabulary corpus token-level SimHash collapses, while
    shingle-level keeps near-dups within a tight Hamming radius),
    candidates via 4×12-bit band match (bucket-capped — same skew
    guard as MinHash), verified by Hamming ≤ 8.

    The signature hash is the engine-portable md5-prefix 60-bit
    integer (:func:`_h60`), so the DuckDB oracle re-computes the
    IDENTICAL signatures, banding, bucket cap, and bit_count(xor)
    Hamming — a full-strength oracle over hash-defined semantics,
    not a recall assumption. All arithmetic is integer-exact.
    """
    d = load_table(spark, sf_dir, "documents")
    # Signature via explode + 48 codegen'd sums, not a nested
    # higher-order aggregate: interpreted lambdas cost 48 passes over
    # every shingle list (~8x slower measured at sf0.01), while the
    # exploded form is one whole-stage-codegen scan with map-side
    # partial aggregation — the shape that survives 100 TB.
    hs = (
        with_shingles(d, "doc_id", nonempty=True)
        .select("doc_id", F.explode(F.expr(f"transform(shingles, sh -> {_h60('sh')})")).alias("hh"))
    )
    bit_sums = hs.groupBy("doc_id").agg(
        *[
            F.sum(F.shiftright(F.col("hh"), i).bitwiseAND(F.lit(1)) * 2 - 1).alias(f"b{i}")
            for i in range(48)
        ]
    )
    sigs = bit_sums.select(
        "doc_id",
        sum(
            [F.when(F.col(f"b{i}") > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long")) for i in range(48)],
            F.lit(0).cast("long"),
        ).alias("sig"),
    )
    banded = sigs.select(
        "doc_id",
        "sig",
        F.expr(
            "explode(transform(sequence(0, 3), b -> named_struct('band', b, 'key',"
            " (sig >> (b * 12)) & 4095)))"
        ).alias("bb"),
    ).select("doc_id", "sig", "bb.band", "bb.key")
    # r12 note: the phash sibling pins `banded` here (measured −19%
    # at x32); for simhash the same pin measured +19% — the
    # recompute is cheaper than the DISK_ONLY round-trip on this
    # kernel's row mix — so simhash deliberately stays unpinned
    # (OPTIMIZATION_r12.md, measured A/B).
    # count-first bucket guard (r11, same fix as minhash_pairs): admit
    # a bucket BEFORE collecting its members — a degenerate signature
    # (e.g. near-empty docs collapsing to one sig) otherwise builds a
    # corpus-sized collect_list buffer that the cap only inspects
    # after the fact. No broadcast hint: the bucket list grows with
    # data; the semi-join and groupBy share the (band, key) shuffle.
    _bucket_ok = (
        banded.groupBy("band", "key")
        .agg(F.count("*").alias("_m"))
        .filter((F.col("_m") > 1) & (F.col("_m") <= 256))
        .select("band", "key")
    )
    guarded = (
        banded.join(_bucket_ok, ["band", "key"], "left_semi")
        .groupBy("band", "key")
        .agg(
            F.sort_array(F.collect_list(F.struct("doc_id", "sig"))).alias("members")
        )
    )
    pairs = (
        guarded.select(
            F.explode(
                F.expr(
                    "flatten(transform(members, (m1, i) ->"
                    " transform(slice(members, i + 2, size(members) - i - 1), m2 ->"
                    " named_struct('doc_a', m1.doc_id, 'doc_b', m2.doc_id,"
                    "              'sig_a', m1.sig, 'sig_b', m2.sig))))"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b", "p.sig_a", "p.sig_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    hamming = F.expr("bit_count(sig_a ^ sig_b)")
    return (
        pairs.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= 8)
        .select("doc_a", "doc_b", "hamming")
    )


# Hard ceiling for the blocked-EXACT Jaccard twins: 4096²/2 ≈ 8.4M
# set-intersections per block is the practical limit of the exact
# path. Above it, the quarantine (SCALE.md "verification-only")
# is enforced in code, not just docs (VERDICT r04 item 2).
NGRAM_EXACT_BLOCK_CAP = 4096


def _assert_blocks_bounded(
    d, cap: int = NGRAM_EXACT_BLOCK_CAP, name: str = "dedup_ngram_jaccard"
) -> None:
    """Raise if any (lang, source) block exceeds the exact-path cap.

    The blocked-exact Jaccard join is O(Σ block²): one hot block
    degenerates it to N²/2 set intersections (the join_er_fuzzy_string
    r02 failure mode). Production near-dup must ride the bucketed
    sub-quadratic paths instead. The pre-check is one column-pruned
    scan + tiny agg + a single-scalar collect (metadata-scale).

    r12: applied to EVERY kernel that self-joins on the (lang,
    source) block, not just the Jaccard twins — the first bounded
    x128 census found dedup_containment effectively non-terminating
    (32k-doc blocks → ~5e8 set intersections per block) because
    the block key is low-cardinality metadata that grows with the
    corpus unless the guard quarantines it."""
    hot = (
        d.groupBy("lang", "source")
        .agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n").alias("mx"))
        .collect()[0]["mx"]
    )
    if hot is not None and hot > cap:
        raise ValueError(
            f"{name}: largest (lang, source) block has {hot} docs "
            f"(> cap {cap}); the exact O(block^2) path is verification-only at "
            "this size. Use dedup_near_minhash / dedup_simhash (bucketed LSH "
            "with member caps) or dedup_ngram_jaccard_fast on a sampled block."
        )


@register(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, lang, source, {D_SHINGLES} AS shingles FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           {d_round_ie("LEN(LIST_INTERSECT(a.shingles, b.shingles))::DOUBLE / LEN(LIST_DISTINCT(LIST_CONCAT(a.shingles, b.shingles)))", 6)} AS jaccard
    FROM sh a JOIN sh b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    WHERE {d_round_ie("LEN(LIST_INTERSECT(a.shingles, b.shingles))::DOUBLE / LEN(LIST_DISTINCT(LIST_CONCAT(a.shingles, b.shingles)))", 6)} >= 0.3
    """,
)
def dedup_ngram_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard near-dup within (lang, source) blocks —
    the verifiable (hash-free) twin of MinHash. Blocking bounds the
    pair count; the self-join is an equi-join on the block key.

    VERIFICATION-ONLY AT SCALE (SCALE.md round 4): (lang, source)
    yields ~100 blocks on the fixtures but a block is UNBOUNDED at
    100 TB — one hot block degenerates to N²/2 set intersections
    (the join_er_fuzzy_string failure mode). Production near-dup
    rides `dedup_near_minhash` (member_cap/shingle_cap bucketed LSH;
    hot-block test: test_units.py
    test_hot_block_minhash_stays_subquadratic) or `dedup_simhash`.

    Size-ratio prefilter (similarity-join folklore): J(A,B) ≤
    min|A|,|B| / max|A|,|B|, so pairs whose sizes differ by more
    than the threshold can be skipped BEFORE the set intersection —
    a pure pruning predicate, result-identical, so the oracle stays
    the unpruned form.

    The quarantine is ENFORCED: `_assert_blocks_bounded` raises on
    any block past NGRAM_EXACT_BLOCK_CAP, pointing at the
    sub-quadratic production routes."""
    d = load_table(spark, sf_dir, "documents")
    _assert_blocks_bounded(d)
    # nonempty: a shingle-free doc can never emit a pair (its jaccard
    # is NULL and fails the threshold), so drop it before the join —
    # same output, smaller join input, and no pushed-filter shingle
    # rebuild (see with_shingles).
    sh = with_shingles(d, "doc_id", "lang", "source", nonempty=True).withColumn(
        "n_sh", F.size("shingles")
    )
    a, b = sh.alias("a"), sh.alias("b")
    size_ok = (
        F.least(F.col("a.n_sh"), F.col("b.n_sh"))
        >= 0.3 * F.greatest(F.col("a.n_sh"), F.col("b.n_sh"))
    )
    # Stage the intersect size ONCE per pair (r12, guide §1.2): the
    # old jac expression (intersect + union arrays) was inlined into
    # both the pushed >= 0.3 filter and the output projection — two
    # intersects AND two union-array builds per pair. |A∪B| is
    # n_a + n_b − inter for distinct shingle arrays (the oracle's
    # LIST_DISTINCT(LIST_CONCAT(...)) of distinct inputs); NULLIF
    # keeps the two-shingle-free-docs pair semantics of the oracle
    # (0-size union → NULL → fails the threshold) — unreachable now
    # that shingle-free docs are pre-filtered, kept for form.
    # nopush (r13): staging alone was not enough — the pushed >= 0.3
    # predicate re-inlined the intersect into the join condition, so
    # it still ran ~2x per pair; the barrier holds the filter above
    # this projection (plan: 2 array_intersect sites → 1).
    scored = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & size_ok,
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            nopush(F.size(F.array_intersect("a.shingles", "b.shingles"))).alias("inter"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
    )
    jac = round_ie(
        F.col("inter")
        / F.nullif(
            (F.col("n_a") + F.col("n_b") - F.col("inter")).cast("double"),
            F.lit(0.0),
        ),
        6,
    )
    return (
        scored.select("doc_a", "doc_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= 0.3)
    )


@register(
    "dedup_ngram_jaccard_fast",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, lang, source, {D_SHINGLES} AS shingles FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           {d_round_ie("LEN(LIST_INTERSECT(a.shingles, b.shingles))::DOUBLE / LEN(LIST_DISTINCT(LIST_CONCAT(a.shingles, b.shingles)))", 6)} AS jaccard
    FROM sh a JOIN sh b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    WHERE {d_round_ie("LEN(LIST_INTERSECT(a.shingles, b.shingles))::DOUBLE / LEN(LIST_DISTINCT(LIST_CONCAT(a.shingles, b.shingles)))", 6)} >= 0.3
    """,
)
def dedup_ngram_jaccard_fast(spark, sf_dir):
    """Same semantics as `dedup_ngram_jaccard`, vectorized: one
    applyInPandas per (lang, source) block does pairwise Jaccard
    with Python set ops on raw text (shingling in-process — cheaper
    than shipping shingle arrays through Arrow). Raw doubles come
    back to the JVM and ROUND happens Spark-side so both variants
    share the oracle's half-up rounding (Python's round() is
    banker's and disagrees on exact .5 ties)."""
    import pandas as pd
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    out_schema = StructType(
        [
            StructField("doc_a", LongType()),
            StructField("doc_b", LongType()),
            StructField("raw_jaccard", DoubleType()),
        ]
    )

    def block_jaccard(pdf: pd.DataFrame) -> pd.DataFrame:
        docs = sorted(zip(pdf["doc_id"], pdf["text"]))
        sets = []
        for _, text in docs:
            toks = [t for t in text.lower().split(" ") if t]
            # <3 tokens → empty shingle set (same guard as SHINGLES)
            sets.append({" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)})
        out_a, out_b, out_j = [], [], []
        for i in range(len(docs)):
            for j in range(i + 1, len(docs)):
                inter = len(sets[i] & sets[j])
                if inter == 0:
                    continue
                jac = inter / len(sets[i] | sets[j])
                if jac >= 0.29:  # pre-filter; exact cut re-applied on rounded value
                    out_a.append(docs[i][0])
                    out_b.append(docs[j][0])
                    out_j.append(jac)
        return pd.DataFrame({"doc_a": out_a, "doc_b": out_b, "raw_jaccard": out_j})

    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source", "text")
    _assert_blocks_bounded(d)  # same enforced quarantine as the expression twin
    pairs = d.groupBy("lang", "source").applyInPandas(block_jaccard, out_schema)
    return (
        pairs.withColumn("jaccard", round_ie("raw_jaccard", 6))
        .filter(F.col("jaccard") >= 0.3)
        .select("doc_a", "doc_b", "jaccard")
    )


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH scored AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
             ROUND({_d_cosine('a.embedding', 'b.embedding')}, 6) AS cos_sim
      FROM embeddings a
      JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id,
      range(1, 65) r(i)
      GROUP BY a.vec_id, b.vec_id
    )
    SELECT vec_a, vec_b, cos_sim FROM scored WHERE cos_sim >= 0.3
    """,
)
def dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-dup within label blocks (semantic dedup;
    fixture vectors are unclustered so τ=0.3 exercises the path).
    Vectorized like `sim_pairs_threshold_blas`: one applyInPandas per
    label block computes the normalized Gram matrix in numpy (BLAS) —
    n²·64 interpreted lambda steps become one native matmul per
    block, measured 10x at sf0.1. The per-pair expression-fold form
    of the same computation lives on as `sim_pairs_threshold`.
    The kernel emits CANDIDATES (generous raw pre-filter); surviving
    pairs are re-scored with the exact fold expression (`_fold_cos6`) on raw
    vectors carried through Arrow, so the hashed cos_sim and the
    τ-cut are bit-identical to the oracle by construction
    (ADVICE r04)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    from pyspark.sql.types import ArrayType, FloatType

    out_schema = StructType(
        [
            StructField("vec_a", LongType()),
            StructField("vec_b", LongType()),
            StructField("_ea", ArrayType(FloatType())),
            StructField("_eb", ArrayType(FloatType())),
        ]
    )

    # self-contained closure (workers can't import this package —
    # see multimodal_decode_meta NOTE); the cap int pickles by value
    _cap = VEC_PAIR_BLOCK_CAP

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) > _cap:
            raise ValueError(
                f"embedding-pair block has {len(pdf)} vectors (> cap {_cap});"
                " the O(block^2) route is bounded by design - re-cluster into"
                " smaller cells (sim_knn_ivf) or use sim_lsh_hyperplane."
            )
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        raw_embs = pdf["embedding"].to_numpy()[order]
        m = np.stack(raw_embs).astype("float64")
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        g = m @ m.T
        ia, ib = np.triu_indices(len(ids), k=1)
        keep = g[ia, ib] >= 0.2999  # generous raw pre-filter only
        # carry the survivors' RAW vectors out for the exact fold
        return pd.DataFrame(
            {
                "vec_a": pd.Series(ids[ia[keep]], dtype="int64"),
                "vec_b": pd.Series(ids[ib[keep]], dtype="int64"),
                # explicit object dtype: an EMPTY comprehension would
                # otherwise become a float64 column Arrow cannot cast
                # to list<float> (r9 thin-data drill, 1-vector blocks)
                "_ea": pd.Series([raw_embs[i] for i in ia[keep]], dtype="object"),
                "_eb": pd.Series([raw_embs[i] for i in ib[keep]], dtype="object"),
            }
        )

    e = load_table(spark, sf_dir, "embeddings")
    raw = e.groupBy("label").applyInPandas(block_pairs, out_schema)
    # nopush (r13): the pushed >= 0.3 filter re-evaluated the exact
    # rescore fold below this projection — 2x three 64-element folds
    # per surviving pair; the barrier keeps it to one evaluation.
    return (
        raw.withColumn("cos_sim", nopush(_fold_cos6(F.col("_ea"), F.col("_eb"))))
        .filter(F.col("cos_sim") >= 0.3)
        .select("vec_a", "vec_b", "cos_sim")
    )


@register(
    "dedup_semdedup_keep",
    oracle=f"""
    WITH cent AS (
      SELECT label, r.i AS i, AVG(CAST(embedding[r.i] AS DOUBLE)) AS c
      FROM embeddings, range(1, 65) r(i) GROUP BY label, r.i
    ),
    ctr AS (
      SELECT e.vec_id, e.label,
             ROUND(SUM(c.c * CAST(e.embedding[c.i] AS DOUBLE)) /
                   (SQRT(SUM(c.c * c.c)) *
                    SQRT(SUM(CAST(e.embedding[c.i] AS DOUBLE) *
                             CAST(e.embedding[c.i] AS DOUBLE)))), 6) AS ctr_cos
      FROM embeddings e JOIN cent c ON c.label = e.label
      GROUP BY e.vec_id, e.label
    ),
    rk AS (
      SELECT vec_id, label, ctr_cos,
             ROW_NUMBER() OVER (PARTITION BY label
                                ORDER BY ctr_cos ASC, vec_id) AS prio
      FROM ctr
    ),
    pairs AS (
      SELECT a.vec_id AS u, b.vec_id AS v
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id,
      range(1, 65) r(i)
      GROUP BY a.vec_id, b.vec_id
      HAVING ROUND({_d_cosine('a.embedding', 'b.embedding')}, 6) >= 0.3
    ),
    edges AS (SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs),
    dom AS (
      SELECT DISTINCT ed.v AS vec_id
      FROM edges ed
      JOIN rk u ON u.vec_id = ed.u
      JOIN rk w ON w.vec_id = ed.v
      WHERE u.prio < w.prio
    )
    SELECT r.vec_id, r.label, r.ctr_cos, (d.vec_id IS NULL) AS keep
    FROM rk r LEFT JOIN dom d ON d.vec_id = r.vec_id
    """,
)
def dedup_semdedup_keep(spark, sf_dir):
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    dedup by clustering embeddings, then within each cluster keeping
    ONE representative per near-duplicate neighborhood — the paper
    keeps the item FARTHEST from the cluster centroid (most
    peripheral = most informative), dropping its near-dups.

    Deterministic greedy form: rank each vector within its cluster
    by (cos-to-centroid ASC, vec_id) — rank 1 = most peripheral —
    and DROP a vector iff some τ-neighbor outranks it. Emits every
    vector with its centroid-cosine and the keep/drop verdict (the
    training-prep consumer filters on `keep`).

    Cluster = `label` here (the fixtures' coarse quantizer, same
    role as the IVF cells in sim_knn_ivf — at 100 TB the cells come
    from k-means and the table is bucketed by cell id). Scale shape:
    per-dim centroid is ONE exact aggregate (float32 values summed
    in double are exact below 2^29 terms — no order sensitivity);
    centroids (nlist x 64 doubles) broadcast; the τ-pair self-join
    is cluster-blocked (O(Σ cell²), the SemDeDup design itself —
    cells bound the pair count) and VECTORIZED per-cell via the
    `dedup_embedding_cosine` BLAS Gram kernel (11.9 s → ~3 s at
    sf0.1 vs the expression fold); dominance is an edge-local
    join against the broadcast-size rank frame. Ranking happens on
    ROUNDED cosines so a last-ulp engine divergence can never flip
    an order before the round."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")
    dims = e.select("label", F.posexplode("embedding").alias("pos", "val"))
    cent = (
        dims.groupBy("label", "pos")
        .agg(F.avg(F.col("val").cast("double")).alias("c"))
        .groupBy("label")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "c"))),
                lambda s: s["c"],
            ).alias("cvec")
        )
    )
    # r12 norm hoists: ‖cvec‖ once per centroid (rides the broadcast),
    # ‖embedding‖ once per vector — not re-folded per scored row.
    cent = cent.withColumn("cnrm", _norm(F.col("cvec")))
    ctr = (
        e.withColumn("nrm", _norm(F.col("embedding")))
        .join(F.broadcast(cent), "label")  # bcast: centroids
        .select(
            "vec_id",
            "label",
            F.round(
                _dot(F.col("embedding"), F.col("cvec"))
                / (F.col("nrm") * F.col("cnrm")),
                6,
            ).alias("ctr_cos"),
        )
    )
    rk = ctr.withColumn(
        "prio",
        F.row_number().over(
            Window.partitionBy("label").orderBy(F.col("ctr_cos").asc(), "vec_id")
        ),
    )
    # τ-pair stage rides the per-cluster BLAS Gram kernel (the
    # dedup_embedding_cosine pattern, 13x over the expression fold at
    # sf0.1) as the candidate GENERATOR; survivors carry their raw vectors
    # out and are re-scored with the exact fold (_fold_cos6) so
    # τ-membership is bit-identical to the oracle at every boundary
    # (ADVICE r04 — a BLAS-vs-fold last-ulp can no longer flip keep).
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    from pyspark.sql.types import ArrayType, FloatType

    pair_schema = StructType(
        [
            StructField("u", LongType()),
            StructField("v", LongType()),
            StructField("_ea", ArrayType(FloatType())),
            StructField("_eb", ArrayType(FloatType())),
        ]
    )

    # self-contained closure (workers can't import this package —
    # see multimodal_decode_meta NOTE); the cap int pickles by value
    _cap = VEC_PAIR_BLOCK_CAP

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) > _cap:
            raise ValueError(
                f"embedding-pair block has {len(pdf)} vectors (> cap {_cap});"
                " the O(block^2) route is bounded by design - re-cluster into"
                " smaller cells (sim_knn_ivf) or use sim_lsh_hyperplane."
            )
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        raw_embs = pdf["embedding"].to_numpy()[order]
        m = np.stack(raw_embs).astype("float64")
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        g = m @ m.T
        ia, ib = np.triu_indices(len(ids), k=1)
        keepi = g[ia, ib] >= 0.2999  # generous raw pre-filter only
        return pd.DataFrame(
            {
                "u": pd.Series(ids[ia[keepi]], dtype="int64"),
                "v": pd.Series(ids[ib[keepi]], dtype="int64"),
                # object dtype: empty block -> float64 Arrow cast crash
                "_ea": pd.Series([raw_embs[i] for i in ia[keepi]], dtype="object"),
                "_eb": pd.Series([raw_embs[i] for i in ib[keepi]], dtype="object"),
            }
        )

    cand = e.groupBy("label").applyInPandas(block_pairs, pair_schema)
    # nopush (r13): one exact-rescore fold per pair — see
    # dedup_embedding_cosine.
    pairs = (
        cand.withColumn("cos_sim", nopush(_fold_cos6(F.col("_ea"), F.col("_eb"))))
        .drop("_ea", "_eb")
        .filter(F.col("cos_sim") >= 0.3)
    )
    edges = pairs.select("u", "v").unionAll(
        pairs.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    prios = rk.select("vec_id", "prio")
    dom = (
        edges.join(
            prios.withColumnRenamed("vec_id", "u").withColumnRenamed("prio", "pu"),
            "u",
        )
        .join(
            prios.withColumnRenamed("vec_id", "v").withColumnRenamed("prio", "pv"),
            "v",
        )
        .filter(F.col("pu") < F.col("pv"))
        .select(F.col("v").alias("dom_vec"))
        .distinct()
    )
    return (
        rk.join(dom, rk.vec_id == dom.dom_vec, "left")
        .select(
            "vec_id",
            "label",
            "ctr_cos",
            F.col("dom_vec").isNull().alias("keep"),
        )
    )


@register(
    "sim_rerank_rrf",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    dense AS (
      SELECT e.vec_id AS id,
             ROUND({_d_cosine('e.embedding', 'q.qv')}, 6) AS cos_sim
      FROM embeddings e, q, range(1, 65) r(i)
      WHERE e.vec_id <> 0
      GROUP BY e.vec_id
    ),
    dr AS (
      SELECT id, CAST(ROW_NUMBER() OVER (ORDER BY cos_sim DESC, id) AS BIGINT)
               AS r
      FROM dense),
    qt AS (SELECT {D_DISTINCT_TOKENS} AS t FROM documents WHERE doc_id = 0),
    lex AS (
      SELECT doc_id AS id,
             CAST(LEN(LIST_INTERSECT({D_DISTINCT_TOKENS}, qt.t)) AS BIGINT)
               AS overlap
      FROM documents, qt WHERE doc_id <> 0),
    lr AS (
      SELECT id, CAST(ROW_NUMBER() OVER (ORDER BY overlap DESC, id) AS BIGINT)
               AS r
      FROM lex)
    SELECT dr.id AS doc_id, dr.r AS dense_rank, lr.r AS lex_rank,
           ROUND(1.0 / (60 + dr.r) + 1.0 / (60 + lr.r), 6) AS rrf
    FROM dr JOIN lr ON lr.id = dr.id
    ORDER BY 1.0 / (60 + dr.r) + 1.0 / (60 + lr.r) DESC, dr.id
    LIMIT 10
    """,
)
def sim_rerank_rrf(spark, sf_dir):
    """Reciprocal-rank fusion (Cormack et al., SIGIR'09 — the
    hybrid-retrieval staple every RAG stack ships): fuse a DENSE
    ranking (cosine to the query embedding) with a LEXICAL ranking
    (distinct-token overlap with the query document) via
    score = Σ 1/(60 + rank), and emit the fused top-10. Rank-space
    fusion needs no score calibration between the two retrievers —
    exactly why production uses it.

    Determinism: both input rankings are built over ROUNDED cosine /
    INTEGER overlap with id tie-breaks, so the integer ranks are
    engine-identical and the RRF floats (identical expressions over
    identical integers) are bit-equal. Scale shape: both rankings
    ride the distributed rank kernel (operators/ranking.py) — an
    unpartitioned ROW_NUMBER over the candidate set would
    single-task a billion-doc corpus; the final fused TakeOrdered is
    a 10-row heap."""
    from .ranking import with_global_rank

    e = load_table(spark, sf_dir, "embeddings")
    d = load_table(spark, sf_dir, "documents")
    qv = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"), _norm(F.col("embedding")).alias("qn"))
    dense = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))  # bcast: scalar
        .select(
            F.col("vec_id").alias("id"),
            F.round(
                _dot(F.col("embedding"), F.col("qv"))
                / (_norm(F.col("embedding")) * F.col("qn")),
                6,
            ).alias("cos_sim"),
        )
    )
    dr = with_global_rank(
        dense, [F.col("cos_sim").desc(), F.col("id")], "r_dense"
    ).select("id", "r_dense")
    qt = d.filter(F.col("doc_id") == 0).select(
        F.expr(DISTINCT_TOKENS).alias("qtoks")
    )
    lex = (
        d.filter(F.col("doc_id") != 0)
        .crossJoin(F.broadcast(qt))  # bcast: scalar
        .select(
            F.col("doc_id").alias("id"),
            F.size(
                F.array_intersect(F.expr(DISTINCT_TOKENS), F.col("qtoks"))
            )
            .cast("long")
            .alias("overlap"),
        )
    )
    lr = with_global_rank(
        lex, [F.col("overlap").desc(), F.col("id")], "r_lex"
    ).select("id", "r_lex")
    rrf = 1.0 / (60 + F.col("r_dense")) + 1.0 / (60 + F.col("r_lex"))
    return (
        dr.join(lr, "id")
        .select(
            F.col("id").alias("doc_id"),
            F.col("r_dense").cast("bigint").alias("dense_rank"),
            F.col("r_lex").cast("bigint").alias("lex_rank"),
            F.round(rrf, 6).alias("rrf"),
            rrf.alias("_raw"),
        )
        .orderBy(F.col("_raw").desc(), "doc_id")
        .limit(10)
        .drop("_raw")
    )


_RAKE_SW = "('a', 'the', 'of', 'and', 'to', 'in')"  # == _STOPWORDS below


@register(
    "text_keyphrase_rake",
    oracle=f"""
    WITH t AS (SELECT doc_id, {D_TOKENS} AS toks FROM documents),
    pos AS (
      SELECT doc_id, CAST(i AS BIGINT) AS i, toks[i] AS w
      FROM (SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS i FROM t)),
    marked AS (
      SELECT doc_id, i, w,
             CAST(SUM(CASE WHEN w IN {{SW}} THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY i
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS island
      FROM pos),
    pw AS (SELECT doc_id, island, i, w FROM marked WHERE w NOT IN {{SW}}),
    phrases AS (
      SELECT doc_id, island,
             STRING_AGG(w, ' ' ORDER BY i) AS phrase,
             CAST(COUNT(*) AS BIGINT) AS plen
      FROM pw GROUP BY doc_id, island),
    wstat AS (
      SELECT p.w,
             CAST(COUNT(*) AS BIGINT) AS freq,
             CAST(SUM(ph.plen) AS BIGINT) AS degree
      FROM pw p JOIN phrases ph
        ON ph.doc_id = p.doc_id AND ph.island = p.island
      GROUP BY p.w),
    scored AS (
      SELECT ph.doc_id, ph.phrase,
             CAST(SUM(ws.degree * 1000000 // ws.freq) AS BIGINT) AS scaled
      FROM pw p
      JOIN phrases ph ON ph.doc_id = p.doc_id AND ph.island = p.island
      JOIN wstat ws ON ws.w = p.w
      GROUP BY ph.doc_id, ph.island, ph.phrase),
    dedup AS (
      SELECT doc_id, phrase, CAST(MAX(scaled) AS BIGINT) AS scaled
      FROM scored GROUP BY doc_id, phrase),
    ranked AS (
      SELECT doc_id, phrase, scaled,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY scaled DESC, phrase) AS r
      FROM dedup)
    SELECT doc_id, CAST(r AS INT) AS rank, phrase,
           scaled / 1000000.0 AS rake_score
    FROM ranked WHERE r <= 3
    """.replace("{SW}", _RAKE_SW),
)
def text_keyphrase_rake(spark, sf_dir):
    """RAKE keyphrase extraction (Rose et al. 2010): candidate
    phrases are maximal token runs between stopwords; each word
    scores degree/frequency over the phrase co-occurrence graph; a
    phrase scores the sum of its words; top-3 per document. The
    unsupervised keyword extractor that needs no model — corpus
    metadata for search/labeling pipelines.

    Determinism: the classic float score is replaced by FIXED-POINT
    integers — word score = degree·10⁶ DIV freq (exact BIGINT
    floor-division), phrase score = integer sum — so no
    accumulation-order float ever ranks a phrase; ties break on the
    phrase text. Scale shape: phrase segmentation is one per-doc
    cumulative count over positions (partitioned window), word
    stats one corpus-level agg joined back broadcast-style, top-3 a
    per-doc partitioned window — all equality-keyed shuffles."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    pos = d.select(
        "doc_id", F.posexplode(F.expr(TOKENS)).alias("i0", "w")
    ).select("doc_id", (F.col("i0") + 1).cast("long").alias("i"), "w")
    is_stop = F.col("w").isin("a", "the", "of", "and", "to", "in")
    w_cum = (
        Window.partitionBy("doc_id")
        .orderBy("i")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    marked = pos.withColumn(
        "island", F.sum(is_stop.cast("int")).over(w_cum).cast("long")
    )
    pw = marked.filter(~is_stop).select("doc_id", "island", "i", "w")
    phrases = pw.groupBy("doc_id", "island").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("i", "w"))),
                lambda s: s["w"],
            ),
            " ",
        ).alias("phrase"),
        F.count("*").cast("long").alias("plen"),
    )
    # r13 negative result (VERDICT r12 item 7): a "narrow" restatement
    # — join pw to plen only, score per (doc_id, island), re-attach
    # the phrase string once per island at the end — was built and
    # A/B-measured (value-identical, parity green). x32 noop best-of-3
    # 3.88 s (this) vs 4.22 s (narrow); x128 16.0 s vs 19.1 s: the
    # extra (doc_id, island) join + agg cost more than the phrase
    # strings it kept off the `w` shuffle (islands are short, so the
    # string bytes are small next to the per-token rows either way).
    # Kept the direct shape; see OPTIMIZATION_r13.md.
    occ = pw.join(phrases, ["doc_id", "island"])
    wstat = occ.groupBy("w").agg(
        F.count("*").cast("long").alias("freq"),
        F.sum("plen").cast("long").alias("degree"),
    )
    scored = (
        occ.join(wstat, "w")
        .withColumn("wscore", F.expr("degree * 1000000L DIV freq"))
        .groupBy("doc_id", "island", "phrase")
        .agg(F.sum("wscore").cast("long").alias("scaled"))
    )
    dedup = scored.groupBy("doc_id", "phrase").agg(
        F.max("scaled").cast("long").alias("scaled")
    )
    w_rank = Window.partitionBy("doc_id").orderBy(
        F.col("scaled").desc(), F.col("phrase")
    )
    return (
        dedup.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= 3)
        .select(
            "doc_id",
            "rank",
            "phrase",
            (F.col("scaled") / 1000000.0).alias("rake_score"),
        )
    )


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------


_CLUSTER_ORACLE = f"""
    WITH RECURSIVE sh AS (
      SELECT doc_id, {D_SHINGLES} AS shingles FROM documents
    ),
    sz AS (SELECT doc_id, shingles, LEN(shingles) AS n FROM sh WHERE LEN(shingles) > 0),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sz a JOIN sz b ON a.doc_id < b.doc_id
        AND a.n >= CEIL(0.7 * b.n) AND b.n >= CEIL(0.7 * a.n)
      WHERE {d_round_ie("LEN(LIST_INTERSECT(a.shingles, b.shingles))::DOUBLE / (a.n + b.n - LEN(LIST_INTERSECT(a.shingles, b.shingles)))", 6)} >= 0.7
    ),
    edges AS (
      SELECT doc_a AS s, doc_b AS t FROM pairs
      UNION
      SELECT doc_b, doc_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT s AS doc_id FROM edges),
    reach(doc_id, r) AS (
      SELECT doc_id, doc_id FROM nodes
      UNION
      SELECT re.doc_id, e.t FROM reach re JOIN edges e ON re.r = e.s
    )
    SELECT doc_id, MIN(r) AS keeper_doc_id FROM reach GROUP BY doc_id
    """


@register("dedup_cluster_keep_min", oracle=_CLUSTER_ORACLE)
def dedup_cluster_keep_min(spark, sf_dir):
    """Near-dup *clusters*, not just pairs: iterative min-label
    propagation (hash-join per iteration, no driver loop over data)
    over the MinHash pair graph until the component minimum reaches
    every member — the connected-components step of a C4-style
    keep-one-per-cluster dedup. Rounds needed = graph diameter in
    min-label hops; near-dup clusters are near-cliques, so labels
    converge in 1-2 rounds. The loop therefore checks a convergence
    scalar per round (sum of labels — strictly decreasing while any
    label still moves) and stops at the fixed point; a graph that is
    STILL moving at the 16-round ceiling raises instead of returning
    under-merged labels (``_propagate_min_labels``, r12 guard). The
    scalar is a one-row aggregate over the just-checkpointed labels —
    a driver-side control decision, not a driver-side data loop.

    Iterative-DataFrame rule: localCheckpoint() each round —
    without lineage truncation the logical plan doubles per
    iteration and analysis time explodes long before execution.

    Oracle: transitive closure via recursive CTE over the exact
    Jaccard ≥ 0.7 pair graph — valid because the MinHash pair set
    equals the exact pair set on these fixtures (see
    dedup_near_minhash) and 8 propagation rounds reach the component
    min for any diameter ≤ 8 (fixture dup clusters are near-cliques;
    tests pin agreement)."""
    pairs = dedup_near_minhash(spark, sf_dir).select("doc_a", "doc_b").localCheckpoint()
    # undirected edge list, both directions
    edges = pairs.unionByName(
        pairs.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).distinct()
    # labels start as self
    labels = edges.select(F.col("doc_a").alias("doc_id")).distinct().withColumn(
        "label", F.col("doc_id")
    )
    labels = _propagate_min_labels(labels, edges, max_rounds=16)
    return labels.select(
        "doc_id", F.col("label").alias("keeper_doc_id")
    ).orderBy("doc_id")


def _propagate_min_labels(labels, edges, max_rounds: int = 16):
    """Min-label propagation to FIXED POINT, or raise (VERDICT r11
    item 2 — the last silent-degradation site): the loop previously
    fell through the round ceiling and returned under-merged
    clusters with no signal. Rounds needed = component diameter in
    min-label hops; near-dup clusters are near-cliques (1-2 rounds),
    but a chain-of-edits family (doc_i ~ doc_{i+1}) at 100 TB can
    exceed any fixed ceiling — that case must FAIL LOUDLY, pointing
    at the O(log n)-round alternative, exactly like the
    ``_check_vec_block`` quarantine for oversized pair blocks.

    ``labels``: (doc_id, label); ``edges``: (doc_a, doc_b), both
    directions present. The convergence scalar (sum of labels —
    strictly decreasing while any label still moves) is a one-row
    aggregate over the just-checkpointed labels: a driver-side
    control decision, not a driver-side data loop."""
    prev_sum = None
    for _ in range(max_rounds):
        # label via neighbors: min(own, min over neighbor labels)
        neighbor_min = (
            edges.join(labels, edges.doc_b == labels.doc_id)
            .groupBy(F.col("doc_a").alias("doc_id"))
            .agg(F.min("label").alias("nbr_min"))
        )
        labels = (
            labels.join(neighbor_min, "doc_id", "left")
            .select(
                "doc_id",
                F.least(F.col("label"), F.coalesce("nbr_min", F.col("label"))).alias("label"),
            )
            .localCheckpoint()
        )
        cur_sum = labels.agg(F.sum("label")).collect()[0][0]
        if cur_sum == prev_sum:
            return labels
        prev_sum = cur_sum
    raise ValueError(
        f"min-label propagation did not reach a fixed point within "
        f"{max_rounds} rounds: the pair graph has a component of "
        f"diameter > {max_rounds} (a chain-of-edits family). Returning "
        "would silently under-merge clusters. Raise the ceiling for a "
        "known-deep graph, or switch to alternating large-star/small-"
        "star contraction (O(log n) rounds) for adversarial chains."
    )


@register(
    "sim_knn_query",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT e.vec_id, ROUND({_d_cosine('e.embedding', 'q.qv')}, 6) AS cos_sim
      FROM embeddings e, q, range(1, 65) r(i)
      WHERE e.vec_id <> 0
      GROUP BY e.vec_id
    )
    SELECT vec_id, cos_sim FROM scored ORDER BY cos_sim DESC, vec_id LIMIT 10
    """,
)
def sim_knn_query(spark, sf_dir):
    """Brute-force cosine top-k for one query vector — the exactness
    baseline. The query vector is broadcast; scoring is a map-only
    pass; top-k is TakeOrdered (no global sort)."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"), _norm(F.col("embedding")).alias("qn"))
    cand = e.filter(F.col("vec_id") != 0)
    scored = cand.crossJoin(F.broadcast(q)).select(  # bcast: scalar
        "vec_id",
        F.round(
            _dot(F.col("embedding"), F.col("qv"))
            / (_norm(F.col("embedding")) * F.col("qn")),
            6,
        ).alias("cos_sim"),
    )
    return scored.orderBy(F.col("cos_sim").desc(), "vec_id").limit(10)


@register(
    "sim_knn_int8_recall",
    oracle="""
    WITH qz AS (
      SELECT vec_id, embedding,
             LIST_MIN(LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE))) AS lo,
             LIST_MAX(LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE))) AS hi
      FROM embeddings
    ),
    coded AS (
      SELECT vec_id,
             LIST_TRANSFORM(embedding, x ->
               CAST(CASE WHEN hi = lo THEN 0 ELSE
                 LEAST(GREATEST(FLOOR((CAST(x AS DOUBLE) - lo)
                                      / (hi - lo) * 255.0), 0), 255) END
                    AS BIGINT)) AS codes,
             CAST(CASE WHEN hi = lo THEN 0 ELSE
               LEAST(GREATEST(FLOOR((0.0 - lo) / (hi - lo) * 255.0), 0), 255) END
                  AS BIGINT) AS zp
      FROM qz
    ),
    q AS (SELECT codes AS qc, zp AS qzp FROM coded WHERE vec_id = 0),
    qf AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    iscored AS (
      SELECT c.vec_id,
             CAST(SUM((c.codes[r.i] - c.zp) * (q.qc[r.i] - q.qzp)) AS BIGINT)
               AS s_int
      FROM coded c, q, range(1, 65) r(i)
      WHERE c.vec_id <> 0
      GROUP BY c.vec_id, c.zp, q.qzp
    ),
    itop AS (
      SELECT vec_id, s_int,
             CAST(ROW_NUMBER() OVER (ORDER BY s_int DESC, vec_id) AS BIGINT)
               AS q_rank
      FROM iscored ORDER BY s_int DESC, vec_id LIMIT 10
    ),
    fscored AS (
      SELECT e.vec_id,
             ROUND(SUM(CAST(e.embedding[r.i] AS DOUBLE) * CAST(qf.qv[r.i] AS DOUBLE)) /
                   (SQRT(SUM(CAST(e.embedding[r.i] AS DOUBLE) * CAST(e.embedding[r.i] AS DOUBLE))) *
                    SQRT(SUM(CAST(qf.qv[r.i] AS DOUBLE) * CAST(qf.qv[r.i] AS DOUBLE)))), 6)
               AS cos_sim
      FROM embeddings e, qf, range(1, 65) r(i)
      WHERE e.vec_id <> 0
      GROUP BY e.vec_id
    ),
    ftop AS (
      SELECT vec_id FROM fscored ORDER BY cos_sim DESC, vec_id LIMIT 10
    )
    SELECT i.q_rank, i.vec_id, i.s_int,
           (f.vec_id IS NOT NULL) AS in_exact_top10
    FROM itop i LEFT JOIN ftop f ON f.vec_id = i.vec_id
    """,
)
def sim_knn_int8_recall(spark, sf_dir):
    """Quantized-space kNN + in-engine recall audit: score candidates
    by the INTEGER dot product of zero-point-centered uint8 codes
    (each vector affine-quantized with its own min/max, the
    `embedding_quantize_int8` scheme) and flag which of the int8
    top-10 survive in the exact float top-10. This is the memory-
    bandwidth play a 100-TB vector store actually makes — 4x smaller
    scans — and the recall column is the evidence the speedup is
    safe, measured in-engine like `sim_ivf_recall_report`.

    Determinism by construction: codes and zero points are exact
    floor-bucket integers (identical expressions both engines), the
    score is an INTEGER sum (associative — partial-agg order can
    never matter, unlike float dots), ranking ties break on vec_id,
    and only the audit-side cosine touches floats (rounded to 6
    before its own deterministic ordering). Plan: one broadcast of
    the coded query row, map-side integer scoring, TakeOrdered 10;
    the float audit pass shares the same map-only shape."""
    e = load_table(spark, sf_dir, "embeddings")
    staged = e.select(
        "vec_id",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("dv"),
    ).select(
        "vec_id",
        "dv",
        F.array_min("dv").alias("lo"),
        F.array_max("dv").alias("hi"),
    )
    lo, hi = F.col("lo"), F.col("hi")

    def bucket(x):
        # hi == lo (constant vector): Spark Divide yields NULL where
        # DuckDB IEEE division yields inf/NaN — guard identically in
        # both engines so degenerate data cannot diverge (ADVICE r04)
        q = F.least(
            F.greatest(F.floor((x - lo) / (hi - lo) * 255.0), F.lit(0)),
            F.lit(255),
        )
        return F.when(hi == lo, F.lit(0)).otherwise(q).cast("long")

    coded = staged.select(
        "vec_id",
        F.transform(F.col("dv"), bucket).alias("codes"),
        bucket(F.lit(0.0)).alias("zp"),
    )
    qc = coded.filter(F.col("vec_id") == 0).select(
        F.col("codes").alias("qc"), F.col("zp").alias("qzp")
    )
    s_int = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.col("qc"),
            lambda c, q: (c - F.col("zp")) * (q - F.col("qzp")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    itop = (
        coded.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qc))  # bcast: scalar
        .select("vec_id", s_int.alias("s_int"))
        .orderBy(F.col("s_int").desc(), "vec_id")
        .limit(10)
    )
    from pyspark.sql import Window

    itop = itop.withColumn(
        "q_rank",
        F.row_number()
        .over(Window.orderBy(F.col("s_int").desc(), "vec_id"))
        .cast("bigint"),
    )
    qf = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"), _norm(F.col("embedding")).alias("qn"))
    ftop = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qf))  # bcast: scalar
        .select(
            F.col("vec_id").alias("f_vec"),
            F.round(
                _dot(F.col("embedding"), F.col("qv"))
                / (_norm(F.col("embedding")) * F.col("qn")),
                6,
            ).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "f_vec")
        .limit(10)
        .select("f_vec")
    )
    return (
        itop.join(ftop, itop.vec_id == ftop.f_vec, "left")
        .select(
            "q_rank",
            "vec_id",
            "s_int",
            F.col("f_vec").isNotNull().alias("in_exact_top10"),
        )
    )


@register(
    "sim_knn_ivf",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv, label FROM embeddings WHERE vec_id = 7),
    scored AS (
      SELECT e.vec_id, ROUND({_d_cosine('e.embedding', 'q.qv')}, 6) AS cos_sim
      FROM embeddings e JOIN q ON e.label = q.label, range(1, 65) r(i)
      WHERE e.vec_id <> 7
      GROUP BY e.vec_id
    )
    SELECT vec_id, cos_sim FROM scored ORDER BY cos_sim DESC, vec_id LIMIT 5
    """,
)
def sim_knn_ivf(spark, sf_dir):
    """IVF-style ANN: label is the coarse quantizer (nprobe=1) — only
    the query's cell is scanned. At 100 TB the cells are k-means
    centroid partitions and the table is bucketed by cell id, so the
    probe prunes ~(1 - 1/nlist) of the data before any scoring."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 7).select(
        F.col("embedding").alias("qv"),
        F.col("label").alias("qlabel"),
        _norm(F.col("embedding")).alias("qn"),
    )
    scored = (
        e.filter(F.col("vec_id") != 7)
        .join(F.broadcast(q), F.col("label") == F.col("qlabel"))  # bcast: scalar
        .select(
            "vec_id",
            F.round(
                _dot(F.col("embedding"), F.col("qv"))
                / (_norm(F.col("embedding")) * F.col("qn")),
                6,
            ).alias("cos_sim"),
        )
    )
    return scored.orderBy(F.col("cos_sim").desc(), "vec_id").limit(5)


@register(
    "sim_knn_ivf_multiprobe",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 7),
    cent AS (
      SELECT label, r.i AS i, AVG(CAST(embedding[r.i] AS DOUBLE)) AS c
      FROM embeddings, range(1, 65) r(i) WHERE vec_id <> 7 GROUP BY label, r.i
    ),
    cscore AS (
      SELECT c.label,
             ROUND(SUM(c.c * CAST(q.qv[c.i] AS DOUBLE)) /
                   (SQRT(SUM(c.c * c.c)) *
                    SQRT(SUM(CAST(q.qv[c.i] AS DOUBLE) * CAST(q.qv[c.i] AS DOUBLE)))), 6)
               AS score
      FROM cent c, q GROUP BY c.label
    ),
    probe AS (SELECT label FROM cscore ORDER BY score DESC, label LIMIT 2),
    scored AS (
      SELECT e.vec_id, ROUND({_d_cosine('e.embedding', 'q.qv')}, 6) AS cos_sim
      FROM embeddings e JOIN probe p ON e.label = p.label, q, range(1, 65) r(i)
      WHERE e.vec_id <> 7
      GROUP BY e.vec_id
    )
    SELECT vec_id, cos_sim FROM scored ORDER BY cos_sim DESC, vec_id LIMIT 5
    """,
)
def sim_knn_ivf_multiprobe(spark, sf_dir):
    """IVF ANN with multiprobe (nprobe=2): rank cells by
    centroid-to-query cosine, scan the 2 nearest cells instead of the
    query's own — the standard recall knob when the query lands near
    a cell boundary. Centroids are per-label per-dimension averages
    (one tiny aggregate, broadcastable at any scale); only the probed
    cells' vectors are ever scored, so the scan cost is
    nprobe/nlist of the corpus."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 7).select(F.col("embedding").alias("qv"), _norm(F.col("embedding")).alias("qn"))
    cand = e.filter(F.col("vec_id") != 7)
    cent = cand.groupBy("label").agg(
        *[
            F.avg(F.col("embedding")[i].cast("double")).alias(f"c{i}")
            for i in range(64)
        ]
    )
    cdot = sum(
        [F.col(f"c{i}") * F.col("qv")[i].cast("double") for i in range(1, 64)],
        F.col("c0") * F.col("qv")[0].cast("double"),
    )
    cnorm = F.sqrt(
        sum([F.col(f"c{i}") * F.col(f"c{i}") for i in range(1, 64)],
            F.col("c0") * F.col("c0"))
    )
    probe = (
        cent.crossJoin(F.broadcast(q))  # bcast: scalar
        .select(
            "label",
            F.round(cdot / (cnorm * F.col("qn")), 6).alias("score"),
        )
        .orderBy(F.col("score").desc(), "label")
        .limit(2)
        .select("label")
    )
    scored = (
        cand.join(F.broadcast(probe), "label")  # bcast: topk
        .crossJoin(F.broadcast(q))  # bcast: scalar
        .select(
            "vec_id",
            F.round(
                _dot(F.col("embedding"), F.col("qv"))
                / (_norm(F.col("embedding")) * F.col("qn")),
                6,
            ).alias("cos_sim"),
        )
    )
    return scored.orderBy(F.col("cos_sim").desc(), "vec_id").limit(5)


_ANN_ORACLE = f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 7),
    cent AS (
      SELECT label, r.i AS i, AVG(CAST(embedding[r.i] AS DOUBLE)) AS c
      FROM embeddings, range(1, 65) r(i) GROUP BY label, r.i
    ),
    cscore AS (
      SELECT c.label,
             SUM(c.c * CAST(q.qv[c.i] AS DOUBLE)) /
               (SQRT(SUM(c.c * c.c)) *
                SQRT(SUM(CAST(q.qv[c.i] AS DOUBLE) * CAST(q.qv[c.i] AS DOUBLE))))
               AS score
      FROM cent c, q GROUP BY c.label
    ),
    probe AS (SELECT label FROM cscore ORDER BY score DESC, label LIMIT 2),
    scored AS (
      SELECT e.vec_id, ROUND({_d_cosine('e.embedding', 'q.qv')}, 6) AS cos_sim
      FROM embeddings e JOIN probe p ON e.label = p.label, q, range(1, 65) r(i)
      WHERE e.vec_id <> 7
      GROUP BY e.vec_id
    )
    SELECT vec_id, cos_sim FROM scored ORDER BY cos_sim DESC, vec_id LIMIT 5
    """


@register("sim_knn_ivf_persisted", oracle=_ANN_ORACLE)
def sim_knn_ivf_persisted(spark, sf_dir):
    """IVF ANN against a PERSISTED index (sources/ann_index.py): the
    build-once/probe-many path the ephemeral sim_knn_ivf* queries
    approximate. Build writes the centroid table (nlist rows,
    broadcastable) and the vectors hive-partitioned by cell_id; probe
    ranks centroids, then scans ONLY the nprobe=2 winning cell
    directories (PartitionFilters pruning — tests/test_ann_index.py
    asserts it) with a map-only cosine + TakeOrdered top-5. The cell
    quantizer here is the deterministic `label` column so the DuckDB
    oracle can restate the index exactly; k-means cells (ivf_build
    without assign_col) are covered by build/recall tests instead —
    float cell boundaries don't belong in a hash-compared oracle. The
    query vector arrives as a literal (the serving-path contract),
    taken from vec_id=7; the indexed corpus keeps vector 7 (a real
    index contains the query's own row), which is only excluded from
    the result list."""
    import os as _os

    from ..sources.ann_index import ivf_build, ivf_probe

    e = load_table(spark, sf_dir, "embeddings")
    idx = _os.path.join(scratch_root(), "ivf_label_index")
    ivf_build(spark, e, idx, assign_col=F.col("label"))
    anchor = e.filter(F.col("vec_id") == 7).head()
    if anchor is None:
        # anchor vector absent (a thinned/filtered corpus): the
        # serving contract has no query, and the oracle's
        # vec_id = 7 subquery is empty — emit the same empty result
        # instead of crashing on None (r9 2%-thin drill)
        # unit placeholder, NOT zeros: the probe divides by the query
        # norm and a zero vector trips ANSI DIVIDE_BY_ZERO
        probe = ivf_probe(
            spark, idx, [1.0] + [0.0] * 63, k=5, nprobe=2, exclude_id=7
        )
        return probe.filter(F.lit(False))
    qv = [float(x) for x in anchor.embedding]
    return ivf_probe(spark, idx, qv, k=5, nprobe=2, exclude_id=7)


_ANN_APPEND_ORACLE = f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 7),
    unn AS (
      SELECT label, vec_id, r.i AS i, CAST(embedding[r.i] AS DOUBLE) AS v
      FROM embeddings, range(1, 65) r(i)
    ),
    cent AS (
      SELECT label, i,
             COALESCE(
               AVG(CASE WHEN vec_id % 2 = 0 THEN v END),
               AVG(CASE WHEN vec_id % 4 = 1 THEN v END),
               AVG(CASE WHEN vec_id % 4 = 3 THEN v END)) AS c
      FROM unn GROUP BY label, i
    ),
    cscore AS (
      SELECT c.label,
             SUM(c.c * CAST(q.qv[c.i] AS DOUBLE)) /
               (SQRT(SUM(c.c * c.c)) *
                SQRT(SUM(CAST(q.qv[c.i] AS DOUBLE) * CAST(q.qv[c.i] AS DOUBLE))))
               AS score
      FROM cent c, q GROUP BY c.label
    ),
    probe AS (SELECT label FROM cscore ORDER BY score DESC, label LIMIT 2),
    scored AS (
      SELECT e.vec_id, ROUND({_d_cosine('e.embedding', 'q.qv')}, 6) AS cos_sim
      FROM embeddings e JOIN probe p ON e.label = p.label, q, range(1, 65) r(i)
      WHERE e.vec_id <> 7
      GROUP BY e.vec_id
    )
    SELECT vec_id, cos_sim FROM scored ORDER BY cos_sim DESC, vec_id LIMIT 5
    """


@register("ann_index_append", oracle=_ANN_APPEND_ORACLE)
def ann_index_append(spark, sf_dir):
    """Incremental IVF maintenance (VERDICT r10 item 4): build the
    persisted index from HALF the corpus (even vec_ids), then
    ``ivf_append`` the two odd quarters as successive daily batches —
    the production append path: quantizer frozen, assignments
    ``mode("append")``-ed so only touched ``cell_id=`` directories
    gain files (untouched cells asserted byte-identical in
    tests/test_ann_index.py), centroid table updated as an nlist-row
    metadata rewrite. The probe then sees the FULL corpus. Oracle
    restates the frozen quantizer exactly: per-label centroids are
    means over the BASE half, falling back to the first batch that
    created a label's cell when the base never saw it (COALESCE
    chain — the same first-writer-defines-the-centroid rule as
    ivf_append's new-cell path, reachable on thinned fixtures);
    candidate scoring runs over all vectors in the 2 probed cells."""
    import os as _os

    from ..sources.ann_index import ivf_append, ivf_build, ivf_probe

    e = load_table(spark, sf_dir, "embeddings")
    idx = _os.path.join(scratch_root(), "ivf_label_index_incr")
    ivf_build(spark, e.filter(F.col("vec_id") % 2 == 0), idx,
              assign_col=F.col("label"))
    ivf_append(spark, e.filter(F.col("vec_id") % 4 == 1), idx,
               assign_col=F.col("label"))
    ivf_append(spark, e.filter(F.col("vec_id") % 4 == 3), idx,
               assign_col=F.col("label"))
    anchor = e.filter(F.col("vec_id") == 7).head()
    if anchor is None:
        probe = ivf_probe(
            spark, idx, [1.0] + [0.0] * 63, k=5, nprobe=2, exclude_id=7
        )
        return probe.filter(F.lit(False))
    qv = [float(x) for x in anchor.embedding]
    return ivf_probe(spark, idx, qv, k=5, nprobe=2, exclude_id=7)


_ANN_DELETE_ORACLE = f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 7),
    unn AS (
      SELECT label, vec_id, r.i AS i, CAST(embedding[r.i] AS DOUBLE) AS v
      FROM embeddings, range(1, 65) r(i)
    ),
    cent AS (SELECT label, i, AVG(v) AS c FROM unn GROUP BY label, i),
    cscore AS (
      SELECT c.label,
             SUM(c.c * CAST(q.qv[c.i] AS DOUBLE)) /
               (SQRT(SUM(c.c * c.c)) *
                SQRT(SUM(CAST(q.qv[c.i] AS DOUBLE) * CAST(q.qv[c.i] AS DOUBLE))))
               AS score
      FROM cent c, q GROUP BY c.label
    ),
    probe AS (SELECT label FROM cscore ORDER BY score DESC, label LIMIT 2),
    scored AS (
      SELECT e.vec_id, ROUND({_d_cosine('e.embedding', 'q.qv')}, 6) AS cos_sim
      FROM embeddings e JOIN probe p ON e.label = p.label, q, range(1, 65) r(i)
      WHERE e.vec_id <> 7 AND e.vec_id % 4 <> 2
      GROUP BY e.vec_id
    )
    SELECT vec_id, cos_sim FROM scored ORDER BY cos_sim DESC, vec_id LIMIT 5
    """


@register("ann_index_delete", oracle=_ANN_DELETE_ORACLE)
def ann_index_delete(spark, sf_dir):
    """IVF index maintenance, leg three (r12): build the persisted
    index over the FULL corpus, ``ivf_delete`` a quarter of it
    (vec_id % 4 == 2 — GDPR-erasure shape), probe. The quantizer is
    frozen through the delete: centroid VECTORS stay the full-corpus
    means (probe routing unchanged — the oracle restates exactly
    that: per-label centroid means over ALL embeddings, candidate
    scoring over the three SURVIVING quarters in the 2 probed cells);
    only the ``n`` counts decrement, and fully-emptied cell dirs are
    dropped via the same copy-on-write bulk_delete the MERGE path
    uses. File-level mechanics (untouched cells byte-identical,
    doomed rows gone, counts updated, emptied-cell probe behavior)
    are pinned in tests/test_ann_index.py."""
    import os as _os

    from ..sources.ann_index import ivf_build, ivf_delete, ivf_probe

    e = load_table(spark, sf_dir, "embeddings")
    idx = _os.path.join(scratch_root(), "ivf_label_index_del")
    ivf_build(spark, e, idx, assign_col=F.col("label"))
    ivf_delete(spark, idx, F.col("vec_id") % 4 == 2)
    anchor = e.filter(F.col("vec_id") == 7).head()
    if anchor is None:
        probe = ivf_probe(
            spark, idx, [1.0] + [0.0] * 63, k=5, nprobe=2, exclude_id=7
        )
        return probe.filter(F.lit(False))
    qv = [float(x) for x in anchor.embedding]
    return ivf_probe(spark, idx, qv, k=5, nprobe=2, exclude_id=7)


@register("ann_index_compact", oracle=_ANN_APPEND_ORACLE)
def ann_index_compact(spark, sf_dir):
    """IVF index maintenance, end-to-end (VERDICT r11 item 4): the
    append path grows per-cell file counts monotonically (one file
    batch per ``ivf_append`` per touched cell), so production
    maintenance compacts periodically. Same build(half)+two-appends
    lineage as ``ann_index_append``, then ``ivf_compact`` re-clusters
    every ``cell_id=`` directory into a single file via one shuffle
    on the partition key, staged + count-validated + swapped so
    readers never see a half-compacted index. The graded contract is
    content preservation: the post-compaction probe must equal the
    uncompacted probe bit-for-bit, so this query shares
    ``ann_index_append``'s oracle (frozen-quantizer centroid means
    over the base half, COALESCE to first-writer for late cells).
    File-count mechanics (>=3 files/cell before, 1 after; centroids
    untouched) are pinned in tests/test_ann_index.py."""
    import os as _os

    from ..sources.ann_index import ivf_append, ivf_build, ivf_compact, ivf_probe

    e = load_table(spark, sf_dir, "embeddings")
    idx = _os.path.join(scratch_root(), "ivf_label_index_compact")
    ivf_build(spark, e.filter(F.col("vec_id") % 2 == 0), idx,
              assign_col=F.col("label"))
    ivf_append(spark, e.filter(F.col("vec_id") % 4 == 1), idx,
               assign_col=F.col("label"))
    ivf_append(spark, e.filter(F.col("vec_id") % 4 == 3), idx,
               assign_col=F.col("label"))
    ivf_compact(spark, idx)
    anchor = e.filter(F.col("vec_id") == 7).head()
    if anchor is None:
        probe = ivf_probe(
            spark, idx, [1.0] + [0.0] * 63, k=5, nprobe=2, exclude_id=7
        )
        return probe.filter(F.lit(False))
    qv = [float(x) for x in anchor.embedding]
    return ivf_probe(spark, idx, qv, k=5, nprobe=2, exclude_id=7)


@register(
    "sim_knn_batch",
    oracle=f"""
    WITH q AS (SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.q_id, e.vec_id, ROUND({_d_cosine('e.embedding', 'q.qv')}, 6) AS cos_sim
      FROM embeddings e, q, range(1, 65) r(i)
      WHERE e.vec_id <> q.q_id
      GROUP BY q.q_id, e.vec_id
    )
    SELECT q_id, vec_id, cos_sim FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY q_id
                                   ORDER BY cos_sim DESC, vec_id) AS rn
      FROM scored
    ) WHERE rn <= 5
    """,
)
def sim_knn_batch(spark, sf_dir):
    """Batched kNN: top-5 neighbors for a whole *set* of query
    vectors in one job — the realistic serving/eval shape (one scan
    of the corpus, queries broadcast, per-query top-k via window).
    At 100 TB the corpus side stays partition-local; only q×k rows
    shuffle for the final ranking."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qv"),
        _norm(F.col("embedding")).alias("qn"),
    )
    scored = (
        e.crossJoin(F.broadcast(q))  # bcast: keys
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            F.round(
                _dot(F.col("embedding"), F.col("qv"))
                / (_norm(F.col("embedding")) * F.col("qn")),
                6,
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cos_sim").desc(), "vec_id")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 5)
        .select("q_id", "vec_id", "cos_sim")
    )


@register(
    "sim_pairs_threshold",
    oracle=f"""
    WITH scored AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
             ROUND({_d_cosine('a.embedding', 'b.embedding')}, 6) AS cos_sim
      FROM embeddings a
      JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id,
      range(1, 65) r(i)
      GROUP BY a.vec_id, b.vec_id, a.label
    )
    SELECT vec_a, vec_b, label, cos_sim FROM scored WHERE cos_sim >= 0.25
    """,
)
def sim_pairs_threshold(spark, sf_dir):
    """All-pairs cosine ≥ τ within label blocks (REPOSE/CASS-style
    blocking keeps this sub-quadratic — O(Σ block²), not O(n²))."""
    e = load_table(spark, sf_dir, "embeddings")
    _assert_vec_blocks_bounded(e)
    # r12 norm hoist — see sim_knn_self_join: per-vector norms staged
    # once per side instead of two extra 64-element folds per pair
    # (and four once the pushed threshold filter duplicated the
    # scoring expression). Same fold, same operand order, same ulps.
    en = e.withColumn("nrm", _norm(F.col("embedding")))
    a, b = en.alias("a"), en.alias("b")
    cos = F.round(
        _dot(F.col("a.embedding"), F.col("b.embedding"))
        / (F.col("a.nrm") * F.col("b.nrm")),
        6,
    )
    return (
        a.join(b, (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id")))
        # nopush (r13): without the barrier the pushed >= 0.25 filter
        # re-inlined the whole dot fold into the join condition — two
        # 64-element folds per pair instead of one.
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            F.col("a.label").alias("label"),
            nopush(cos).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.25)
    )


# ---------------------------------------------------------------------------
# text analysis
# ---------------------------------------------------------------------------


_PAIRS_ORACLE = f"""
    WITH scored AS (
      SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.label AS label,
             ROUND({{cos}}, 6) AS cos_sim
      FROM embeddings a
      JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id,
      range(1, 65) r(i)
      GROUP BY a.vec_id, b.vec_id, a.label
    )
    SELECT vec_a, vec_b, label, cos_sim FROM scored WHERE cos_sim >= 0.25
    """


@register(
    "sim_pairs_threshold_blas",
    oracle=_PAIRS_ORACLE.format(cos=_d_cosine("a.embedding", "b.embedding")),
)
def sim_pairs_threshold_blas(spark, sf_dir):
    """Same semantics as `sim_pairs_threshold`, vectorized: one
    applyInPandas per label block computes the normalized Gram matrix
    with numpy (BLAS) instead of per-pair expression folds. At scale
    this is the right kernel — a block of n vectors costs one
    n×64 · 64×n matmul in native code; the expression form costs
    n²·64 interpreted lambda steps. Same oracle (results identical
    within the shared ROUND)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from pyspark.sql.types import ArrayType, FloatType

    out_schema = StructType(
        [
            StructField("vec_a", LongType()),
            StructField("vec_b", LongType()),
            StructField("label", IntegerType()),
            StructField("_ea", ArrayType(FloatType())),
            StructField("_eb", ArrayType(FloatType())),
        ]
    )

    # self-contained closure (workers can't import this package —
    # see multimodal_decode_meta NOTE); the cap int pickles by value
    _cap = VEC_PAIR_BLOCK_CAP

    def block_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) > _cap:
            raise ValueError(
                f"embedding-pair block has {len(pdf)} vectors (> cap {_cap});"
                " the O(block^2) route is bounded by design - re-cluster into"
                " smaller cells (sim_knn_ivf) or use sim_lsh_hyperplane."
            )
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        raw_embs = pdf["embedding"].to_numpy()[order]
        m = np.stack(raw_embs).astype("float64")
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        g = m @ m.T
        ia, ib = np.triu_indices(len(ids), k=1)
        # generous raw pre-filter only; survivors carry their raw
        # vectors out and are re-scored with the exact fold
        # (_fold_cos6), so the emitted cos_sim is oracle-bit-identical
        keep = g[ia, ib] >= 0.2499
        return pd.DataFrame(
            {
                "vec_a": pd.Series(ids[ia[keep]], dtype="int64"),
                "vec_b": pd.Series(ids[ib[keep]], dtype="int64"),
                "label": pd.Series(
                    [int(pdf["label"].iloc[0])] * int(keep.sum()), dtype="int32"
                ),
                # object dtype: empty block -> float64 Arrow cast crash
                "_ea": pd.Series([raw_embs[i] for i in ia[keep]], dtype="object"),
                "_eb": pd.Series([raw_embs[i] for i in ib[keep]], dtype="object"),
            }
        )

    e = load_table(spark, sf_dir, "embeddings")
    raw = e.groupBy("label").applyInPandas(block_pairs, out_schema)
    # nopush (r13): one exact-rescore fold per pair — see
    # dedup_embedding_cosine.
    return (
        raw.withColumn("cos_sim", nopush(_fold_cos6(F.col("_ea"), F.col("_eb"))))
        .filter(F.col("cos_sim") >= 0.25)
        .select("vec_a", "vec_b", "label", "cos_sim")
    )


@register(
    "text_tokenize_counts",
    oracle=f"""
    SELECT w AS word, COUNT(*) AS cnt, COUNT(DISTINCT doc_id) AS doc_freq
    FROM (SELECT doc_id, UNNEST({D_TOKENS}) AS w FROM documents)
    GROUP BY w
    """,
)
def text_tokenize_counts(spark, sf_dir):
    """Corpus token profile: explode → count (partial agg collapses
    the token stream map-side before the shuffle)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.explode(F.expr(TOKENS)).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"), F.countDistinct("doc_id").alias("doc_freq"))
    )


@register(
    "text_tfidf_topterms",
    oracle=f"""
    WITH toks AS (SELECT doc_id, UNNEST({D_TOKENS}) AS w FROM documents),
    tf AS (SELECT doc_id, w, COUNT(*) AS tf FROM toks GROUP BY doc_id, w),
    df AS (SELECT w, COUNT(DISTINCT doc_id) AS df FROM toks GROUP BY w),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.w AS term,
             ROUND(tf.tf * LN(n.n_docs / df.df), 6) AS tfidf
      FROM tf JOIN df ON tf.w = df.w CROSS JOIN n
    )
    SELECT doc_id, term, tfidf FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY tfidf DESC, term) AS rn
      FROM scored
    ) WHERE rn <= 3
    """,
)
def text_tfidf_topterms(spark, sf_dir):
    """TF-IDF top-3 terms per doc. df is vocabulary-KEYED — small on
    the fixtures but Heaps-law UNBOUNDED on a real corpus (1e8+
    surface forms at 100 TB), so the join back onto the token stream
    carries no broadcast hint (r10 broadcast-hint audit): unhinted it
    co-partitions with the groupBy("w") that built df (the exchange
    is reused), and AQE demotes to broadcast whenever the runtime
    size is actually small. No row-level collect either way."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.expr(TOKENS)).alias("w"))
    tf = toks.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    df = toks.groupBy("w").agg(F.countDistinct("doc_id").alias("df"))
    n = d.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(df, "w")
        .crossJoin(F.broadcast(n))  # bcast: scalar
        .select(
            "doc_id",
            F.col("w").alias("term"),
            F.round(F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "term")
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tfidf")
    )


_LEXICON = [
    ("fast", 1.0),
    ("small", 0.5),
    ("value", 0.5),
    ("merge", 0.25),
    ("slow", -1.0),
    ("error", -1.0),
    ("null", -0.5),
    ("skew", -0.5),
]
_D_LEX_VALUES = ", ".join(f"('{w}', CAST({p} AS DOUBLE))" for w, p in _LEXICON)


@register(
    "text_sentiment_lexicon",
    oracle=f"""
    WITH toks AS (SELECT doc_id, UNNEST({D_TOKENS}) AS w FROM documents),
    lex(word, polarity) AS (VALUES {_D_LEX_VALUES})
    SELECT t.doc_id,
           COUNT(*) AS matched_tokens,
           (ROUND(AVG(lex.polarity), 6) + 0.0) AS sentiment
    FROM toks t JOIN lex ON t.w = lex.word
    GROUP BY t.doc_id
    """,
)
def text_sentiment_lexicon(spark, sf_dir):
    """Lexicon-join sentiment (EDBT'16 pattern): token stream ⋈
    broadcast lexicon → per-doc mean polarity."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.expr(TOKENS)).alias("w"))
    lex = spark.createDataFrame(_LEXICON, ["word", "polarity"])
    return (
        toks.join(F.broadcast(lex), toks.w == lex.word)  # bcast: lexicon
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("matched_tokens"),
            round_z(F.avg("polarity"), 6).alias("sentiment"),
        )
    )


@register(
    "text_lang_profile",
    oracle="""
    SELECT lang, source,
           COUNT(*) AS n_docs,
           ROUND(AVG(n_chars), 6) AS avg_chars,
           MIN(n_chars) AS min_chars,
           MAX(n_chars) AS max_chars
    FROM documents
    GROUP BY lang, source
    """,
)
def text_lang_profile(spark, sf_dir):
    """Corpus governance rollup per (lang, source) shard."""
    d = load_table(spark, sf_dir, "documents")
    return d.groupBy("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.round(F.avg("n_chars"), 6).alias("avg_chars"),
        F.min("n_chars").alias("min_chars"),
        F.max("n_chars").alias("max_chars"),
    )


_STOPWORDS = "('a', 'the', 'of', 'and', 'to', 'in')"


@register(
    "text_quality_score",
    oracle=f"""
    WITH t AS (SELECT doc_id, n_chars, {D_TOKENS} AS toks FROM documents)
    SELECT doc_id,
           LEN(toks) AS n_tokens,
           {d_round_ie("LEN(LIST_DISTINCT(toks))::DOUBLE / NULLIF(LEN(toks), 0)", 6)} AS uniq_ratio,
           {d_round_ie(f"LEN(LIST_FILTER(toks, w -> w IN {_STOPWORDS}))::DOUBLE / NULLIF(LEN(toks), 0)", 6)}
             AS stopword_ratio,
           {d_round_ie("n_chars::DOUBLE / NULLIF(LEN(toks), 0)", 6)} AS avg_token_len,
           {d_round_ie(f"0.5 * (LEN(LIST_DISTINCT(toks))::DOUBLE / NULLIF(LEN(toks), 0)) + 0.5 * (1 - LEN(LIST_FILTER(toks, w -> w IN {_STOPWORDS}))::DOUBLE / NULLIF(LEN(toks), 0))", 6)}
             AS quality
    FROM t
    """,
)
def text_quality_score(spark, sf_dir):
    """Heuristic quality scoring (length / stopword / uniqueness
    ratios) — the C4-style pre-filter, one map-only pass."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", "n_chars", F.expr(TOKENS).alias("toks"))
    # NULLIF: a token-free doc (empty/whitespace text, r9 text drill)
    # must emit the oracle's NULL ratios, not ANSI-crash on /0
    n = F.nullif(F.size("toks").cast("double"), F.lit(0.0))
    uniq = F.size(F.array_distinct("toks")).cast("double") / n
    stop = F.size(F.expr(f"filter(toks, w -> w IN {_STOPWORDS})")).cast("double") / n
    return t.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        round_ie(uniq, 6).alias("uniq_ratio"),
        round_ie(stop, 6).alias("stopword_ratio"),
        round_ie(F.col("n_chars").cast("double") / n, 6).alias("avg_token_len"),
        round_ie(0.5 * uniq + 0.5 * (1 - stop), 6).alias("quality"),
    )


_LANG_MARKERS = {
    "de": "('und', 'der', 'nicht', 'schnell')",
    "en": "('the', 'fast', 'slow', 'query')",
    "es": "('el', 'la', 'rapido', 'consulta')",
    "fr": "('le', 'la', 'vite', 'requete')",
    "zh": "('biao', 'kuai', 'man', 'lie')",
}


def _langid_scores_sql(tok_expr: str, fn: str) -> str:
    return ", ".join(
        f"len({fn}({tok_expr}, w -> w IN {m})) AS score_{lang}"
        for lang, m in _LANG_MARKERS.items()
    )


@register(
    "text_langid_ngram",
    oracle=f"""
    WITH scores AS (
      SELECT doc_id, lang AS true_lang,
             {_langid_scores_sql('toks', 'list_filter')}
      FROM (SELECT doc_id, lang, {D_TOKENS} AS toks FROM documents)
    )
    SELECT doc_id, true_lang,
           CASE GREATEST(score_de, score_en, score_es, score_fr, score_zh)
             WHEN score_de THEN 'de' WHEN score_en THEN 'en'
             WHEN score_es THEN 'es' WHEN score_fr THEN 'fr' ELSE 'zh' END
             AS predicted_lang,
           GREATEST(score_de, score_en, score_es, score_fr, score_zh) AS top_score
    FROM scores
    """,
)
def text_langid_ngram(spark, sf_dir):
    """Marker-word language ID (n-gram heuristic): score each lang by
    marker hits, argmax with first-match tie order de<en<es<fr<zh —
    identical CASE ladder in both engines."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.col("lang").alias("true_lang"), F.expr(TOKENS).alias("toks"))
    scores = t.select(
        "doc_id",
        "true_lang",
        *[
            F.size(F.expr(f"filter(toks, w -> w IN {m})")).alias(f"score_{lang}")
            for lang, m in _LANG_MARKERS.items()
        ],
    )
    top = F.greatest(*[F.col(f"score_{k}") for k in _LANG_MARKERS])
    pred = (
        F.when(F.col("score_de") == top, "de")
        .when(F.col("score_en") == top, "en")
        .when(F.col("score_es") == top, "es")
        .when(F.col("score_fr") == top, "fr")
        .otherwise("zh")
    )
    return scores.select(
        "doc_id", "true_lang", pred.alias("predicted_lang"), top.alias("top_score")
    )


@register(
    "text_bigram_counts",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {D_TOKENS} AS t FROM documents),
    bg AS (
      SELECT doc_id, UNNEST(CASE WHEN len(t) >= 2 THEN
                              list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i+1])
                            ELSE [] END) AS bigram
      FROM toks
    )
    SELECT bigram, COUNT(*) AS cnt
    FROM bg GROUP BY bigram HAVING COUNT(*) >= 20
    """,
)
def text_bigram_counts(spark, sf_dir):
    """Corpus bigram statistics (n-gram LM inputs): adjacent-token
    pairs via one transform over the token array — no self-join."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.expr(TOKENS).alias("t"))
    bg = t.select(
        "doc_id",
        F.explode(
            F.expr(
                "CASE WHEN size(t) >= 2 THEN transform(sequence(1, size(t) - 1),"
                " i -> concat_ws(' ', element_at(t, i), element_at(t, i + 1)))"
                " ELSE cast(array() AS array<string>) END"
            )
        ).alias("bigram"),
    )
    return bg.groupBy("bigram").agg(F.count("*").alias("cnt")).filter(F.col("cnt") >= 20)


@register(
    "text_fingerprint",
    oracle=f"""
    SELECT doc_id,
           MD5(ARRAY_TO_STRING(LIST_SORT({D_DISTINCT_TOKENS})[1:8], ' ')) AS fingerprint,
           LEN({D_DISTINCT_TOKENS}) AS vocab_size
    FROM documents
    """,
)
def text_fingerprint(spark, sf_dir):
    """Document fingerprint: digest of the 8 smallest distinct tokens
    (an order-free locality fingerprint à la shingle sketching)."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.expr(DISTINCT_TOKENS)
    # NULL, not md5(''), for a vocab-free doc: DuckDB's slice of an
    # empty list is NULL and the digest NULL-propagates (r9 text
    # drill); Spark's '' would digest to d41d8cd9...
    return d.select(
        "doc_id",
        F.when(F.size(toks) == 0, F.lit(None).cast("string"))
        .otherwise(F.md5(F.array_join(F.slice(F.array_sort(toks), 1, 8), " ")))
        .alias("fingerprint"),
        F.size(toks).alias("vocab_size"),
    )


@register(
    "text_token_count_regex",
    oracle=r"""
    SELECT doc_id,
           LEN(REGEXP_EXTRACT_ALL(text, '[a-z]+')) AS alpha_tokens,
           LEN(REGEXP_EXTRACT_ALL(text, '[a-z]{4,}')) AS long_tokens,
           LEN(STRING_SPLIT(text, ' ')) AS ws_tokens
    FROM documents
    """,
)
def text_token_count_regex(spark, sf_dir):
    """Token counting: whitespace + BPE-ish regex classes — the
    cheap proxy for tokenizer budget accounting."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit("[a-z]+"), 0)).alias("alpha_tokens"),
        F.size(F.regexp_extract_all("text", F.lit("[a-z]{4,}"), 0)).alias("long_tokens"),
        F.size(F.split("text", " ")).alias("ws_tokens"),
    )


@register(
    "embedding_quantize_int8",
    oracle="""
    WITH rng AS (
      SELECT vec_id, label,
             LIST_MIN(LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE))) AS lo,
             LIST_MAX(LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE))) AS hi
      FROM embeddings
    )
    SELECT vec_id, label,
           ROUND(lo, 6) AS scale_lo,
           ROUND(hi, 6) AS scale_hi,
           CAST(CASE WHEN hi = lo THEN 0 ELSE
             LEAST(GREATEST(FLOOR((0.0 - lo) / (hi - lo) * 255.0), 0), 255) END AS INT)
             AS zero_point,
           CAST(LIST_SUM(LIST_TRANSFORM(e.embedding, x ->
             CAST(CASE WHEN hi = lo THEN 0 ELSE
               LEAST(GREATEST(FLOOR((CAST(x AS DOUBLE) - lo) / (hi - lo) * 255.0), 0), 255) END AS BIGINT)))
             AS BIGINT) AS q_checksum
    FROM embeddings e JOIN rng USING (vec_id, label)
    """,
)
def embedding_quantize_int8(spark, sf_dir):
    """Per-vector affine uint8 quantization (min/max → 0..255): 4x
    storage and bandwidth at 100 TB, the standard ANN-index prestep.
    Emits the quantization params + a checksum of the quantized
    codes so the oracle verifies the actual quantized values, not
    just the range math. Floor-bucket arithmetic is identical in
    both engines (no fp-rounding ambiguity at bucket edges beyond
    the shared expression)."""
    e = load_table(spark, sf_dir, "embeddings")
    # stage dv/lo/hi once: referenced inside the per-element lambda,
    # an inlined array_min would re-scan the vector per element
    # (64x) — staging cut this query 4.8 s -> ~0.4 s at sf0.1 (the
    # same CollapseProject pitfall as SHINGLES_FROM_TOKS)
    staged = e.select(
        "vec_id",
        "label",
        F.transform(F.col("embedding"), lambda x: x.cast("double")).alias("dv"),
    ).select(
        "vec_id",
        "label",
        "dv",
        F.array_min("dv").alias("lo"),
        F.array_max("dv").alias("hi"),
    )
    lo, hi = F.col("lo"), F.col("hi")

    def q(x):
        # guard hi == lo identically in both engines (ADVICE r04):
        # Spark Divide → NULL vs DuckDB IEEE → inf/NaN on 0/0
        clamped = F.least(
            F.greatest(F.floor((x - lo) / (hi - lo) * 255.0), F.lit(0)), F.lit(255)
        )
        return F.when(hi == lo, F.lit(0)).otherwise(clamped)

    codes = F.transform(F.col("dv"), lambda x: q(x).cast("long"))
    return staged.select(
        "vec_id",
        "label",
        F.round(lo, 6).alias("scale_lo"),
        F.round(hi, 6).alias("scale_hi"),
        q(F.lit(0.0)).cast("int").alias("zero_point"),
        F.aggregate(codes, F.lit(0).cast("long"), lambda a, x: a + x).alias("q_checksum"),
    )


@register(
    "text_scrub_pii",
    oracle=r"""
    SELECT doc_id,
           REGEXP_REPLACE(
             REGEXP_REPLACE(
               REGEXP_REPLACE(text, '[a-z0-9._]+@[a-z0-9.]+', '<EMAIL>', 'g'),
               '[0-9]{3}-[0-9]{3,4}-[0-9]{4}', '<PHONE>', 'g'),
             '[0-9]{5,}', '<NUM>', 'g') AS scrubbed,
           (LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[0-9]', '', 'g'))) AS digit_count
    FROM documents WHERE doc_id < 250
    """,
)
def text_scrub_pii(spark, sf_dir):
    """PII scrubbing pass (emails, phone-shaped, long digit runs →
    typed placeholders) — the standard pre-training redaction step;
    pure regexp_replace chain, map-only, codegen'd."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 250)
    scrub = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace("text", r"[a-z0-9._]+@[a-z0-9.]+", "<EMAIL>"),
            r"[0-9]{3}-[0-9]{3,4}-[0-9]{4}",
            "<PHONE>",
        ),
        r"[0-9]{5,}",
        "<NUM>",
    )
    return d.select(
        "doc_id",
        scrub.alias("scrubbed"),
        (F.length("text") - F.length(F.regexp_replace("text", "[0-9]", ""))).alias(
            "digit_count"
        ),
    )


@register(
    "pipeline_clean_corpus",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang, source, n_chars,
             SHA256(LOWER(TRIM(text))) AS content_hash,
             {D_TOKENS} AS toks
      FROM documents
    ),
    quality AS (
      SELECT doc_id, lang, source, n_chars, content_hash,
             LEN(toks) AS n_tokens,
             LEN(LIST_DISTINCT(toks))::DOUBLE / LEN(toks) AS uniq_ratio
      FROM scored
      WHERE LEN(toks) >= 10 AND n_chars BETWEEN 60 AND 600
    ),
    deduped AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY content_hash ORDER BY doc_id) AS rn
      FROM quality
    )
    SELECT doc_id, lang, source, n_tokens, ROUND(uniq_ratio, 6) AS uniq_ratio
    FROM deduped
    WHERE rn = 1 AND uniq_ratio >= 0.3 AND lang IN ('en', 'de', 'es', 'fr')
    """,
)
def pipeline_clean_corpus(spark, sf_dir):
    """End-to-end training-corpus cleaning — the composition the
    individual §2.9 operators exist for: quality gate (length +
    token count + uniqueness) → exact dedup (keep lowest id per
    content hash) → language allowlist. One scan, one shuffle (the
    dedup hash), all built-ins — this shape IS the 100-TB ingest
    filter job."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "lang",
        "source",
        "n_chars",
        F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("content_hash"),
        F.expr(TOKENS).alias("toks"),
    )
    quality = scored.filter(
        (F.size("toks") >= 10) & F.col("n_chars").between(60, 600)
    ).select(
        "doc_id",
        "lang",
        "source",
        "content_hash",
        F.size("toks").alias("n_tokens"),
        (F.size(F.array_distinct("toks")).cast("double") / F.size("toks")).alias("uniq_ratio"),
    )
    w = Window.partitionBy("content_hash").orderBy("doc_id")
    return (
        quality.withColumn("rn", F.row_number().over(w))
        .filter(
            (F.col("rn") == 1)
            & (F.col("uniq_ratio") >= 0.3)
            & F.col("lang").isin("en", "de", "es", "fr")
        )
        .select("doc_id", "lang", "source", "n_tokens", F.round("uniq_ratio", 6).alias("uniq_ratio"))
    )


def _lcg_planes(nplanes: int = 8, dim: int = 64) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes in [-1, 1), from a
    fixed 64-bit LCG (Knuth MMIX constants) — no RNG object, no seed
    state, reproducible everywhere, embeddable as plain literals in
    both engines' SQL."""
    state = 1234567891
    planes = []
    for _ in range(nplanes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            row.append(round((state >> 11) / float(1 << 53) * 2.0 - 1.0, 6))
        planes.append(row)
    return planes


_PLANES = _lcg_planes()
_S_PLANES = (
    "array("
    + ",".join("array(" + ",".join(f"{v:.6f}D" for v in row) + ")" for row in _PLANES)
    + ")"
)
# Planes ride in a VALUES CTE, not an inline double[][] literal:
# DuckDB (like Spark) re-materializes a literal nested-array constant
# on every lambda element access — the CTE column reference took the
# oracle from 64 s to 0.3 s at sf0.01.
_D_PLANE_VALUES = ",".join(
    f"({p + 1}, [{','.join(f'{v:.6f}' for v in row)}]::DOUBLE[])"
    for p, row in enumerate(_PLANES)
)

_LSH_ORACLE = f"""
    WITH planes(pid, w) AS (VALUES {_D_PLANE_VALUES}),
    sig AS (
      SELECT e.vec_id, p.pid,
             CASE WHEN list_sum(list_transform(range(1, 65), i ->
                  CAST(e.embedding[i] AS DOUBLE) * p.w[i])) > 0
                  THEN (1 << (8 - p.pid)) ELSE 0 END AS bit
      FROM embeddings e CROSS JOIN planes p
    ),
    bucketed AS (SELECT vec_id, CAST(SUM(bit) AS BIGINT) AS bucket
                 FROM sig GROUP BY vec_id)
    SELECT bucket, COUNT(*) AS occupancy,
           MIN(vec_id) AS min_member, MAX(vec_id) AS max_member
    FROM bucketed GROUP BY bucket
    """


@register("sim_lsh_hyperplane", oracle=_LSH_ORACLE)
def sim_lsh_hyperplane(spark, sf_dir):
    """Random-hyperplane LSH for cosine ANN: 8 deterministic planes
    (fixed-LCG literals — identical constants in the Spark expression
    and the DuckDB oracle), bucket = 8-bit sign pattern (256 buckets;
    size the plane count to data cardinality — 16 planes left ~1
    vector per bucket on this corpus). Query probes only its own
    bucket. Output: per-bucket occupancy — the scale path where
    brute-force `sim_knn_query` is the exactness baseline.

    Cross-engine FP note: both engines fold the 64-term dot product
    left-to-right in index order, so the sign test sees identical
    doubles; fixture dots are bounded away from 0 (min |dot| checked
    in tests), so the sign is robust regardless."""
    e = load_table(spark, sf_dir, "embeddings")
    # planes ride in as a broadcast 1-row column, NOT a 4096-node
    # inline literal — Spark doesn't constant-fold the literal inside
    # the lambda and re-builds it per row (measured ~60x slower)
    planes_df = spark.createDataFrame([(_PLANES,)], "planes array<array<double>>")
    sig = F.expr(
        "transform(sequence(0, 7), p -> CASE WHEN aggregate("
        " zip_with(embedding, element_at(planes, p + 1), (x, w) ->"
        "   CAST(x AS DOUBLE) * w),"
        " 0D, (acc, v) -> acc + v) > 0 THEN 1 ELSE 0 END)"
    )
    bucketed = e.crossJoin(F.broadcast(planes_df)).select(  # bcast: centroids
        "vec_id", sig.alias("sig")
    ).select(
        "vec_id",
        F.aggregate(F.col("sig"), F.lit(0), lambda acc, b: acc * 2 + b)
        .cast("long")
        .alias("bucket"),
    )
    return bucketed.groupBy("bucket").agg(
        F.count("*").alias("occupancy"),
        F.min("vec_id").alias("min_member"),
        F.max("vec_id").alias("max_member"),
    )


@register(
    "pipeline_decontaminate",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, source, UNNEST({D_SHINGLES}) AS shingle FROM documents
    ),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE source = 'src0'),
    hits AS (
      SELECT s.doc_id, COUNT(DISTINCT s.shingle) AS shared_shingles
      FROM sh s JOIN bench b ON s.shingle = b.shingle
      WHERE s.source <> 'src0'
      GROUP BY s.doc_id
    )
    SELECT doc_id, shared_shingles
    FROM hits WHERE shared_shingles >= 5
    """,
)
def pipeline_decontaminate(spark, sf_dir):
    """Benchmark decontamination: flag training docs sharing ≥5
    3-gram shingles with the held-out set (source='src0' stands in
    for the benchmark). Exploded-shingle equi-join against the
    distinct benchmark shingle set — at 100 TB the benchmark side is
    small and broadcast, so this is one map-side join over the
    corpus shingle stream."""
    d = load_table(spark, sf_dir, "documents")
    sh = with_shingles(d, "doc_id", "source").select(
        "doc_id", "source", F.explode("shingles").alias("shingle")
    )
    bench = sh.filter(F.col("source") == "src0").select("shingle").distinct()
    return (
        sh.filter(F.col("source") != "src0")
        .join(F.broadcast(bench), "shingle")  # bcast: lexicon
        .groupBy("doc_id")
        .agg(F.countDistinct("shingle").alias("shared_shingles"))
        .filter(F.col("shared_shingles") >= 5)
    )


@register(
    "events_anomaly_zscore",
    oracle="""
    WITH stats AS (
      SELECT event_type, AVG(value) AS mu, STDDEV_SAMP(value) AS sigma
      FROM events GROUP BY event_type
    )
    SELECT e.event_id, e.event_type, e.value,
           ROUND((e.value - s.mu) / s.sigma, 6) AS zscore
    FROM events e JOIN stats s ON e.event_type = s.event_type
    WHERE ABS((e.value - s.mu) / s.sigma) > 2.5
    """,
)
def events_anomaly_zscore(spark, sf_dir):
    """Ops anomaly flagging: per-metric z-score against the metric's
    own distribution (two-phase: tiny stats agg broadcast back onto
    the stream — no window over the full data)."""
    ev = load_table(spark, sf_dir, "events")
    stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("mu"), F.stddev_samp("value").alias("sigma")
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        ev.join(F.broadcast(stats), "event_type")  # bcast: enum
        .filter(F.abs(z) > 2.5)
        .select("event_id", "event_type", "value", F.round(z, 6).alias("zscore"))
    )


_CMS_HASH_D = _d_h60("concat(CAST(j AS VARCHAR), '_', CAST(user_id AS VARCHAR))")
_CMS_ORACLE = f"""
    WITH st AS (
      SELECT r.j AS j, {_CMS_HASH_D} % 1024 AS slot, COUNT(*) AS cnt
      FROM events, range(0, 4) r(j)
      GROUP BY 1, 2
    ),
    probes AS (SELECT p AS user_id FROM range(0, 20) r(p)),
    probe_slots AS (
      SELECT probes.user_id, r.j AS j, {_CMS_HASH_D.replace("user_id", "probes.user_id")} % 1024 AS slot
      FROM probes, range(0, 4) r(j)
    ),
    est AS (
      SELECT ps.user_id, MIN(COALESCE(st.cnt, 0)) AS estimate
      FROM probe_slots ps LEFT JOIN st ON st.j = ps.j AND st.slot = ps.slot
      GROUP BY ps.user_id
    ),
    exact AS (SELECT user_id, COUNT(*) AS exact_cnt FROM events GROUP BY user_id),
    tot AS (SELECT COUNT(*) AS total FROM events)
    SELECT e.user_id, e.estimate, COALESCE(x.exact_cnt, 0) AS exact_cnt,
           (e.estimate >= COALESCE(x.exact_cnt, 0)) AS est_ge_exact,
           (e.estimate <= COALESCE(x.exact_cnt, 0)
              + CAST(CEIL(2.718282 * t.total / 1024) AS BIGINT)) AS within_epsilon
    FROM est e LEFT JOIN exact x USING (user_id), tot t
    """


@register("agg_count_min_sketch", oracle=_CMS_ORACLE)
def agg_count_min_sketch(spark, sf_dir):
    """Count-Min sketch over the rowkey stream — mergeable
    heavy-hitter estimation (the counters dashboard at 100 TB where
    exact per-key counts don't fit). Depth 4 × width 1024, hash =
    engine-portable md5-prefix (:func:`_h60`), built entirely as
    DataFrame ops: explode each key into 4 (row, slot) cells, one
    groupBy builds the ≤4096-row sketch (map-side partial agg does
    the heavy lifting; the sketch is trivially mergeable because it
    IS a sum). The probe reads estimates back — min over the 4 rows'
    slots — for keys 0..19 and emits (estimate, exact, CMS-guarantee
    booleans). The oracle recomputes the identical sketch in SQL, so
    estimates are value-checked, not just bounded. Exact counts here
    are the verification surface, not part of the production plan."""
    ev = load_table(spark, sf_dir, "events")
    hash_expr = _h60("concat(cast(j AS string), '_', cast(user_id AS string))")
    sketch = (
        ev.select("user_id", F.explode(F.expr("sequence(0, 3)")).alias("j"))
        .select("j", F.expr(f"{hash_expr} % 1024").alias("slot"))
        .groupBy("j", "slot")
        .agg(F.count("*").alias("cnt"))
    )
    probes = spark.range(0, 20).select(F.col("id").alias("user_id"))
    probe_slots = probes.select(
        "user_id", F.explode(F.expr("sequence(0, 3)")).alias("j")
    ).select("user_id", "j", F.expr(f"{hash_expr} % 1024").alias("slot"))
    est = (
        probe_slots.join(F.broadcast(sketch), ["j", "slot"], "left")  # bcast: grid
        .groupBy("user_id")
        .agg(F.min(F.coalesce("cnt", F.lit(0))).alias("estimate"))
    )
    exact = (
        ev.filter(F.col("user_id") < 20)
        .groupBy("user_id")
        .agg(F.count("*").alias("exact_cnt"))
    )
    total = ev.agg(F.count("*").alias("total"))
    return (
        est.join(exact, "user_id", "left")
        .crossJoin(F.broadcast(total))  # bcast: scalar
        .select(
            "user_id",
            "estimate",
            F.coalesce("exact_cnt", F.lit(0)).alias("exact_cnt"),
            (F.col("estimate") >= F.coalesce("exact_cnt", F.lit(0))).alias("est_ge_exact"),
            (
                F.col("estimate")
                <= F.coalesce("exact_cnt", F.lit(0))
                + F.ceil(F.lit(2.718282) * F.col("total") / F.lit(1024)).cast("bigint")
            ).alias("within_epsilon"),
        )
    )


@register(
    "multimodal_join",
    oracle=f"""
    WITH user_stats AS (
      SELECT user_id, COUNT(*) AS ev_cnt,
             {d_round_ie("SUM(CAST(FLOOR(value * 100 + 0.5) AS BIGINT)) / 100.0 / COUNT(*)", 6)} AS avg_value
      FROM events GROUP BY user_id
    ),
    vec AS (
      SELECT e.vec_id, e.label,
             ROUND({_d_cosine('e.embedding', 'e.embedding')}, 6) AS self_sim
      FROM embeddings e, range(1, 65) r(i)
      GROUP BY e.vec_id, e.label
    )
    SELECT d.doc_id, d.lang, v.label, v.self_sim,
           COALESCE(u.ev_cnt, 0) AS owner_events,
           u.avg_value AS owner_avg_value
    FROM documents d
    JOIN vec v ON d.doc_id = v.vec_id
    LEFT JOIN user_stats u ON u.user_id = d.doc_id % 150
    """,
)
def multimodal_join(spark, sf_dir):
    """Three modalities joined: text metadata ⋈ vectors (1:1 id) ⋈
    behavioral aggregates (doc owner = doc_id % 150). Inner join on
    the vector side (coverage is partial at sf0.1 — FIXTURES.md)."""
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    ev = load_table(spark, sf_dir, "events")
    user_stats = ev.groupBy("user_id").agg(
        F.count("*").alias("ev_cnt"),
        round_ie(
            F.sum(F.floor(F.col("value") * 100 + 0.5)) / 100.0 / F.count("*"), 6
        ).alias("avg_value"),
    )
    self_sim = F.round(
        _dot(F.col("embedding"), F.col("embedding"))
        / (_norm(F.col("embedding")) * _norm(F.col("embedding"))),
        6,
    )
    # No broadcast hint on user_stats: it's an unbounded per-user
    # aggregate (|users| rows at 100 TB) — let AQE pick the strategy.
    return (
        d.join(e, d.doc_id == e.vec_id)
        .join(user_stats, user_stats.user_id == d.doc_id % 150, "left")
        .select(
            "doc_id",
            "lang",
            "label",
            self_sim.alias("self_sim"),
            F.coalesce("ev_cnt", F.lit(0)).alias("owner_events"),
            F.col("avg_value").alias("owner_avg_value"),
        )
    )


# 2-word shingles for repetition measurement (Gopher's dup-n-gram
# fraction uses raw, NOT deduplicated, n-gram streams — so no
# array_distinct here, unlike SHINGLES above).
BIGRAMS = (
    f"CASE WHEN size({TOKENS}) >= 2 THEN"
    f" transform(sequence(1, size({TOKENS}) - 1),"
    f" i -> concat_ws(' ', element_at({TOKENS}, i), element_at({TOKENS}, i + 1)))"
    f" ELSE cast(array() AS array<string>) END"
)
D_BIGRAMS = (
    f"CASE WHEN len({D_TOKENS}) >= 2 THEN"
    f" list_transform(range(1, len({D_TOKENS})),"
    f" i -> {D_TOKENS}[i] || ' ' || {D_TOKENS}[i+1])"
    f" ELSE [] END"
)
# Over a staged `toks` column — same 12x rationale as SHINGLES_FROM_TOKS.
BIGRAMS_FROM_TOKS = (
    "CASE WHEN size(toks) >= 2 THEN"
    " zip_with(slice(toks, 1, size(toks) - 1),"
    " slice(toks, 2, size(toks) - 1), (x, y) -> concat(x, ' ', y))"
    " ELSE cast(array() AS array<string>) END"
)


@register(
    "text_repetition_ratio",
    oracle=f"""
    WITH per_doc AS (
      SELECT source,
             1.0 - LEN(LIST_DISTINCT({D_TOKENS}))::DOUBLE / LEN({D_TOKENS})
               AS dup_tok,
             1.0 - LEN(LIST_DISTINCT({D_BIGRAMS}))::DOUBLE / LEN({D_BIGRAMS})
               AS dup_2g
      FROM documents
      WHERE LEN({D_TOKENS}) >= 2
    )
    SELECT source,
           COUNT(*) AS n_docs,
           ROUND(AVG(dup_tok), 6) AS avg_dup_token_frac,
           ROUND(AVG(dup_2g), 6) AS avg_dup_bigram_frac,
           CAST(SUM(CASE WHEN dup_2g > 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_repetitive
    FROM per_doc GROUP BY source ORDER BY source
    """,
)
def text_repetition_ratio(spark, sf_dir):
    """Gopher-style repetition quality signals: per-document duplicate
    token fraction and duplicate 2-gram fraction (computed on the raw
    n-gram stream), rolled up per source with a >0.5 repetitive-doc
    flag count. Entirely JVM-side array expressions — one map pass
    plus one partial-aggregated groupBy on `source`; no explode, so
    the shuffle carries |sources| rows, not |tokens|."""
    d = load_table(spark, sf_dir, "documents")
    per_doc = (
        d.select("source", F.expr(TOKENS).alias("toks"))
        .filter(F.size("toks") >= 2)
        .select("source", "toks", F.expr(BIGRAMS_FROM_TOKS).alias("bigr"))
        .select(
            "source",
            (
                F.lit(1.0)
                - F.size(F.array_distinct("toks")).cast("double") / F.size("toks")
            ).alias("dup_tok"),
            (
                F.lit(1.0)
                - F.size(F.array_distinct("bigr")).cast("double") / F.size("bigr")
            ).alias("dup_2g"),
        )
    )
    return (
        per_doc.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("dup_tok"), 6).alias("avg_dup_token_frac"),
            F.round(F.avg("dup_2g"), 6).alias("avg_dup_bigram_frac"),
            F.sum((F.col("dup_2g") > 0.5).cast("long")).alias("n_repetitive"),
        )
        .orderBy("source")
    )


@register(
    "pipeline_mix_weighted",
    oracle=f"""
    WITH w AS (
      SELECT *,
             5 + 15 * (COALESCE(TRY_CAST(regexp_extract(source, '([0-9]+)', 1)
                                         AS BIGINT), 0) % 5) AS keep_pct,
             {_d_h60("'epoch1|' || CAST(doc_id AS VARCHAR)")} % 100 AS slot
      FROM documents
    )
    SELECT source, ANY_VALUE(keep_pct) AS keep_pct,
           COUNT(*) AS n_in,
           CAST(SUM(CASE WHEN slot < keep_pct THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM w GROUP BY source ORDER BY source
    """,
)
def pipeline_mix_weighted(spark, sf_dir):
    """Weighted corpus mixing: each source gets a sampling rate
    (5–65%, derived here from the source id; in production a config
    map) and rows are kept by a salted deterministic hash slot —
    the same documents survive on every run, engine, and cluster
    size, which is what makes training mixes reproducible. The salt
    ('epoch1|') re-rolls the sample per epoch without reshuffling
    data. Pure map-side filter + one tiny per-source rollup."""
    d = load_table(spark, sf_dir, "documents")
    # first digit run, not a positional substring-cast: source ids are
    # opaque strings at corpus scale (the x128 census's per-replica
    # source suffixes turned 'src0' into 'src0_r93' and the strict
    # CAST threw CAST_INVALID_INPUT); digit-extraction keys replicas
    # of a source to the base source's rate, no-digit sources to 0
    keep_pct = 5 + 15 * (
        F.expr(
            "coalesce(try_cast(regexp_extract(source, '([0-9]+)', 1) "
            "AS bigint), 0)"
        )
        % 5
    )
    slot = F.expr(_h60("concat('epoch1|', cast(doc_id AS string))")) % 100
    return (
        d.select("source", keep_pct.alias("keep_pct"), slot.alias("slot"))
        .groupBy("source")
        .agg(
            F.any_value("keep_pct").alias("keep_pct"),
            F.count("*").alias("n_in"),
            F.sum((F.col("slot") < F.col("keep_pct")).cast("long")).alias("n_kept"),
        )
        .orderBy("source")
    )


@register(
    "embedding_norm_outliers",
    oracle="""
    WITH norms AS (
      SELECT vec_id, label,
             SQRT(SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS l2
      FROM (SELECT vec_id, label, UNNEST(embedding) AS x FROM embeddings)
      GROUP BY vec_id, label
    ),
    stats AS (
      SELECT label, AVG(l2) AS mu, STDDEV_SAMP(l2) AS sigma
      FROM norms GROUP BY label
    )
    SELECT n.vec_id, n.label, ROUND(n.l2, 6) AS l2_norm,
           ROUND((n.l2 - s.mu) / s.sigma, 6) AS zscore
    FROM norms n JOIN stats s ON n.label = s.label
    WHERE ABS((n.l2 - s.mu) / s.sigma) > 2.0
    """,
)
def embedding_norm_outliers(spark, sf_dir):
    """Embedding-quality filter: flag vectors whose L2 norm is a
    >2-sigma outlier within their label cluster (degenerate/corrupt
    vectors poison ANN recall and contrastive training). Norms are a
    map-only array fold; the per-label stats table is tiny and
    broadcast back — two scans of nothing but (vec_id, label, l2),
    never a window over the full vector set."""
    e = load_table(spark, sf_dir, "embeddings")
    norms = e.select("vec_id", "label", _norm(F.col("embedding")).alias("l2"))
    stats = norms.groupBy("label").agg(
        F.avg("l2").alias("mu"), F.stddev_samp("l2").alias("sigma")
    )
    z = (F.col("l2") - F.col("mu")) / F.col("sigma")
    return (
        norms.join(F.broadcast(stats), "label")  # bcast: enum
        .filter(F.abs(z) > 2.0)
        .select(
            "vec_id",
            "label",
            F.round("l2", 6).alias("l2_norm"),
            F.round(z, 6).alias("zscore"),
        )
    )


_EPOCH_SLOT = "concat('epoch2|', cast(doc_id AS string))"
_D_EPOCH_SLOT = "'epoch2|' || CAST(doc_id AS VARCHAR)"


@register(
    "pipeline_epoch_order",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, source,
             {_d_h60(_D_EPOCH_SLOT)} % 16 AS shard,
             {_d_h60(_D_EPOCH_SLOT)} AS slot
      FROM documents
    )
    SELECT doc_id, source, shard,
           ROW_NUMBER() OVER (PARTITION BY shard ORDER BY slot, doc_id) AS pos
    FROM s
    """,
)
def pipeline_epoch_order(spark, sf_dir):
    """Deterministic epoch shuffling for training-data loaders: every
    document gets a (shard, pos) — shard by salted hash, position by
    hash order within the shard. The full order is reproducible on
    any engine/cluster size (same salt → same order; bump the salt
    per epoch for a fresh permutation) WITHOUT a global sort: the
    window partitions by shard, so the plan is one hash shuffle into
    16-way parallel sorts, never a single-partition ORDER BY."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    slot = F.expr(_h60(_EPOCH_SLOT))
    w = Window.partitionBy("shard").orderBy("slot", "doc_id")
    return (
        d.select("doc_id", "source", (slot % 16).alias("shard"), slot.alias("slot"))
        .withColumn("pos", F.row_number().over(w))
        .drop("slot")
    )


@register(
    "pipeline_pack_sequences",
    oracle=f"""
    WITH t AS (
      SELECT doc_id,
             {_d_h60("'pack|' || CAST(doc_id AS VARCHAR)")} % 8 AS shard,
             LEN(STRING_SPLIT(text, ' ')) AS n_tokens
      FROM documents
    ), o AS (
      SELECT doc_id, shard, n_tokens,
             CAST(COALESCE(SUM(n_tokens) OVER (
               PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
               AS start_offset
      FROM t
    )
    SELECT doc_id, shard, n_tokens, start_offset,
           CAST(shard * 1000000 + start_offset // 2048 AS BIGINT) AS pack_id,
           (start_offset + n_tokens - 1) // 2048 > start_offset // 2048 AS straddles
    FROM o
    """,
)
def pipeline_pack_sequences(spark, sf_dir):
    """GPT-style sequence packing for the training loader: documents
    are concatenated in a deterministic order and chopped into
    fixed-budget packs (2048 whitespace tokens here — the tokenizer
    proxy `text_token_count_regex` uses). Each doc gets the pack it
    STARTS in plus a `straddles` flag (it crosses a pack boundary and
    the loader must split it). Packing is per-shard (salted-hash
    shard, like `pipeline_epoch_order`): the cumulative offset is a
    window over shard — 8 parallel in-partition sorts after one hash
    shuffle, never a global single-partition ORDER BY, so the plan
    holds at 100 TB where a global running sum would serialize."""
    from pyspark.sql import Window

    budget = 2048
    d = load_table(spark, sf_dir, "documents")
    t = d.select(
        "doc_id",
        (F.expr(_h60("concat('pack|', cast(doc_id AS string))")) % 8).alias("shard"),
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    o = t.withColumn("start_offset", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
    return o.select(
        "doc_id",
        "shard",
        "n_tokens",
        "start_offset",
        (F.col("shard") * 1000000 + F.floor(F.col("start_offset") / budget)).alias("pack_id"),
        (
            F.floor((F.col("start_offset") + F.col("n_tokens") - 1) / budget)
            > F.floor(F.col("start_offset") / budget)
        ).alias("straddles"),
    )


@register(
    "text_inverted_index",
    oracle=f"""
    SELECT term,
           COUNT(*) AS df,
           MIN(doc_id) AS min_doc,
           MAX(doc_id) AS max_doc,
           CAST(SUM({_d_h60("CAST(doc_id AS VARCHAR)")} % 1048576) AS BIGINT) AS posting_digest
    FROM (SELECT doc_id, UNNEST({D_DISTINCT_TOKENS}) AS term FROM documents)
    GROUP BY term
    HAVING COUNT(*) >= 5
    """,
)
def text_inverted_index(spark, sf_dir):
    """Inverted-index build (term -> posting stats): explode distinct
    tokens, one shuffle on term. Posting-set identity is verified by
    an ORDER-FREE commutative digest (sum of bounded portable hashes
    of member doc_ids) instead of `collect_list` — a stopword term at
    100 TB has a posting list of billions of doc_ids, which would
    blow any collect-based agg buffer; the commutative digest keeps
    the whole aggregation map-side-combinable with O(1) state per
    term. df >= 5 prunes the hapax tail (the bulk of vocab rows)."""
    d = load_table(spark, sf_dir, "documents")
    digest = F.expr(f"{_h60('cast(doc_id AS string)')} % 1048576")
    return (
        d.select("doc_id", F.explode(F.expr(DISTINCT_TOKENS)).alias("term"))
        .groupBy("term")
        .agg(
            F.count("*").alias("df"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
            F.sum(digest).alias("posting_digest"),
        )
        .filter(F.col("df") >= 5)
    )


@register(
    "dedup_incremental_vs_corpus",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, {D_SHINGLES} AS shingles FROM documents
    ), batch AS (
      SELECT doc_id, UNNEST(shingles) AS shingle, len(shingles) AS sa
      FROM sh WHERE doc_id % 5 = 0 AND len(shingles) > 0
    ), corpus AS (
      SELECT doc_id, UNNEST(shingles) AS shingle, len(shingles) AS sb
      FROM sh WHERE doc_id % 5 <> 0 AND len(shingles) > 0
    ), pairs AS (
      SELECT b.doc_id AS batch_id, c.doc_id AS corpus_id,
             COUNT(*) AS common, ANY_VALUE(b.sa) AS sa, ANY_VALUE(c.sb) AS sb
      FROM batch b JOIN corpus c USING (shingle)
      GROUP BY b.doc_id, c.doc_id
    )
    SELECT batch_id AS doc_id,
           COUNT(*) FILTER (WHERE common * 2 >= sa + sb - common) AS n_dups,
           COUNT(*) FILTER (WHERE common * 2 >= sa + sb - common) > 0 AS is_dup
    FROM pairs
    GROUP BY batch_id
    HAVING COUNT(*) FILTER (WHERE common * 2 >= sa + sb - common) > 0
    """,
)
def dedup_incremental_vs_corpus(spark, sf_dir):
    """Incremental near-dup: dedup a NEW batch against an EXISTING
    corpus (the production shape — each crawl increment is checked
    against everything already ingested, never corpus-vs-corpus).
    doc_id % 5 splits batch (20%) from corpus here. Candidate pairs
    come from a PREFIX-FILTERED shingle-inverted-index equi-join
    (PPJoin, lossless — see below), then an exact array-intersect
    verify on the candidate pairs. A pair is a dup when
    common*2 >= sa+sb-common in exact integer arithmetic (no float
    rounding to diverge between engines).

    Prefix filtering (r13, VERDICT r12 item 5, guide §2.3): the dup
    predicate 2c >= sa+sb-c implies 3c >= sa+sb, and c <= sb gives
    c >= ceil(sa/2) (symmetrically c >= ceil(sb/2)). Order each
    doc's distinct shingles canonically (sort_array) and keep the
    first floor(n/2)+1 as posting keys: the SMALLEST common shingle
    of any qualifying pair must sit inside BOTH prefixes (if it sat
    past a side's prefix, that side could hold at most
    n - (floor(n/2)+1) < ceil(n/2) <= c common elements —
    contradiction). So the posting join emits a candidate superset
    of the dup pairs while shuffling ~half the posting strings per
    side, and the ultra-common-shingle fan-out risk is halved with
    it. Verification joins the full shingle arrays back onto the
    deduped candidates only (the minhash verify shape —
    O(corpus + candidates) shuffle volume) and tests the SAME
    integer predicate on |A∩B|, which equals the old posting-count
    `common` exactly."""
    sh = with_shingles(
        load_table(spark, sf_dir, "documents"), "doc_id", nonempty=True
    )
    prefix = F.expr("slice(sort_array(shingles), 1, size(shingles) div 2 + 1)")
    batch = sh.filter(F.col("doc_id") % 5 == 0).select(
        F.col("doc_id").alias("batch_id"),
        F.explode(prefix).alias("shingle"),
    )
    corpus = sh.filter(F.col("doc_id") % 5 != 0).select(
        F.col("doc_id").alias("corpus_id"),
        F.explode(prefix).alias("shingle"),
    )
    cand = (
        batch.join(corpus, "shingle")
        .select("batch_id", "corpus_id")
        .dropDuplicates(["batch_id", "corpus_id"])
    )
    pairs = cand.join(
        sh.select(
            F.col("doc_id").alias("batch_id"),
            F.col("shingles").alias("sh_a"),
            F.size("shingles").alias("sa"),
        ),
        "batch_id",
    ).join(
        sh.select(
            F.col("doc_id").alias("corpus_id"),
            F.col("shingles").alias("sh_b"),
            F.size("shingles").alias("sb"),
        ),
        "corpus_id",
    )
    scored = pairs.select(
        "batch_id",
        nopush(F.size(F.array_intersect("sh_a", "sh_b"))).alias("common"),
        "sa",
        "sb",
    )
    dup = (F.col("common") * 2 >= F.col("sa") + F.col("sb") - F.col("common")).cast(
        "long"
    )
    return (
        scored.groupBy(F.col("batch_id").alias("doc_id"))
        .agg(F.sum(dup).alias("n_dups"))
        .filter(F.col("n_dups") > 0)
        .withColumn("is_dup", F.col("n_dups") > 0)
    )


@register(
    "sample_stratified",
    oracle=f"""
    SELECT lang, split,
           COUNT(*) AS n,
           CAST(SUM({_d_h60("CAST(doc_id AS VARCHAR)")} % 1048576) AS BIGINT) AS member_digest
    FROM (
      SELECT doc_id, lang,
             CASE WHEN {_d_h60("'strat1|' || CAST(doc_id AS VARCHAR)")} % 10000
                       < CASE WHEN lang = 'en' THEN 500 ELSE 2000 END
                  THEN 'val' ELSE 'train' END AS split
      FROM documents
    )
    GROUP BY lang, split
    """,
)
def sample_stratified(spark, sf_dir):
    """Stratified train/val split: per-stratum sampling rates (5% of
    English — the abundant stratum — 20% of everything else), decided
    per row by a salted portable hash so the split is reproducible on
    any engine or cluster size and new rows never reshuffle old
    assignments. Map-only per row (no shuffle to ASSIGN the split —
    the only shuffle here is the verification rollup); the emitted
    per-(lang, split) counts + order-free membership digest let the
    oracle verify the exact member set, not just the rates."""
    d = load_table(spark, sf_dir, "documents")
    rate = F.when(F.col("lang") == "en", 500).otherwise(2000)
    slot = F.expr(_h60("concat('strat1|', cast(doc_id AS string))")) % 10000
    digest = F.expr(f"{_h60('cast(doc_id AS string)')} % 1048576")
    return (
        d.select(
            "doc_id",
            "lang",
            F.when(slot < rate, "val").otherwise("train").alias("split"),
            digest.alias("dg"),
        )
        .groupBy("lang", "split")
        .agg(F.count("*").alias("n"), F.sum("dg").alias("member_digest"))
    )


@register(
    "sim_knn_self_join",
    oracle=f"""
    WITH scored AS (
      SELECT a.vec_id AS src, b.vec_id AS nbr, a.label AS label,
             ROUND({_d_cosine('a.embedding', 'b.embedding')}, 6) AS cos_sim
      FROM embeddings a
      JOIN embeddings b ON a.label = b.label AND a.vec_id <> b.vec_id,
      range(1, 65) r(i)
      GROUP BY a.vec_id, b.vec_id, a.label
    ), ranked AS (
      SELECT src, nbr, label, cos_sim,
             ROW_NUMBER() OVER (
               PARTITION BY src ORDER BY cos_sim DESC, nbr) AS rnk
      FROM scored
    )
    SELECT src, nbr, label, cos_sim, rnk FROM ranked WHERE rnk <= 3
    """,
)
def sim_knn_self_join(spark, sf_dir):
    """kNN join: every vector's top-3 neighbors — the neighbor-graph
    primitive under semantic dedup clustering, kNN-classification
    label transfer, and diversity sampling (contrast sim_knn_query:
    one probe vs the corpus; this is corpus vs corpus).

    Scale shape: blocked by the IVF cell (label), so candidate
    generation is O(Σ block²) within co-partitioned blocks — one
    shuffle on label, never an n² cross join. The rank then runs
    per-src over each block's candidates. At 100 TB block size is
    the lever: more/finer IVF cells (with multiprobe for recall, see
    sim_knn_ivf_multiprobe) keep Σ block² linear-ish in corpus size.
    The O(block²) candidate join is bounded by the same enforced cap
    as every sibling pair kernel (`_assert_vec_blocks_bounded`,
    VERDICT r05 item 2) — oversized blocks must take the
    sub-quadratic IVF/LSH routes."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")
    _assert_vec_blocks_bounded(e)
    # r12 hoists (the sim_centroid_classify pattern): each pair
    # recomputed BOTH side norms (3 interpreted 64-element folds per
    # pair); the norms are per-vector, so stage them once per side —
    # same fold expression, same multiplication order, same ulps.
    en = e.withColumn("nrm", _norm(F.col("embedding")))
    a, b = en.alias("a"), en.alias("b")
    cos = F.round(
        _dot(F.col("a.embedding"), F.col("b.embedding"))
        / (F.col("a.nrm") * F.col("b.nrm")),
        6,
    )
    scored = a.join(
        b, (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") != F.col("b.vec_id"))
    ).select(
        F.col("a.vec_id").alias("src"),
        F.col("b.vec_id").alias("nbr"),
        F.col("a.label").alias("label"),
        cos.alias("cos_sim"),
    )
    # (label, src) names the same groups as (src) — src determines
    # label — but hash(label) from the block join SATISFIES the
    # window's clustered distribution, so the rank reuses the join's
    # exchange instead of reshuffling every scored pair by src (r12,
    # guide §2.4 "window keyed like the preceding join").
    w = Window.partitionBy("label", "src").orderBy(F.col("cos_sim").desc(), "nbr")
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= 3)


@register(
    "text_boilerplate_phrases",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, unnest({D_SHINGLES}) AS shingle FROM documents
    )
    SELECT shingle, COUNT(*) AS n_docs
    FROM s GROUP BY shingle HAVING COUNT(*) >= 5
    """,
)
def text_boilerplate_phrases(spark, sf_dir):
    """Corpus-level boilerplate detector: word trigrams appearing in
    >= 5 distinct documents — the CCNet/C4 move of finding repeated
    lines/phrases (nav bars, license headers, templated footers)
    globally before stripping them from every document. Shingles are
    per-doc deduped (array_distinct in the shared staging), so
    COUNT(*) IS document frequency — no countDistinct needed. One
    explode + one hash agg with map-side partial aggregation; the
    explode output never materializes (pipelined into the partial
    agg), so at 100 TB cost is one shuffle of |distinct shingles|
    partial counts, and the >= 5 filter prunes the long tail
    post-agg."""
    d = load_table(spark, sf_dir, "documents")
    return (
        with_shingles(d, "doc_id")
        .select(F.explode("shingles").alias("shingle"))
        .groupBy("shingle")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= 5)
    )


_QL_STOPWORDS = ("the", "a", "of", "and", "to", "in")


@register(
    "text_quality_logit",
    oracle=f"""
    WITH feats AS (
      SELECT doc_id,
             len({D_TOKENS}) AS n_toks,
             len(list_distinct({D_TOKENS})) / CAST(len({D_TOKENS}) AS DOUBLE) AS ttr,
             len(list_filter({D_TOKENS},
                 w -> list_contains({list(_QL_STOPWORDS)}, w)))
               / CAST(len({D_TOKENS}) AS DOUBLE) AS stop_ratio,
             list_sum(list_transform({D_TOKENS}, w -> length(w)))
               / CAST(len({D_TOKENS}) AS DOUBLE) AS avg_tok_len
      FROM documents WHERE len({D_TOKENS}) > 0
    )
    SELECT doc_id,
           ROUND(1.0 / (1.0 + EXP(-(-1.2 + 0.004 * n_toks + 2.0 * ttr
                                    - 3.0 * stop_ratio + 0.15 * avg_tok_len))), 6)
             AS quality_score,
           (1.0 / (1.0 + EXP(-(-1.2 + 0.004 * n_toks + 2.0 * ttr
                               - 3.0 * stop_ratio + 0.15 * avg_tok_len))) >= 0.5)
             AS keep
    FROM feats
    """,
)
def text_quality_logit(spark, sf_dir):
    """Model-based quality filtering, the step after heuristic
    filters in a C4/FineWeb-style pipeline: a logistic scorer over
    engineered features (token count, type-token ratio, stopword
    ratio, mean token length). Weights here are fixed in code — the
    production analog broadcasts coefficients exported from a
    trained fasttext/regression model; the execution shape is
    identical either way: pure per-row expression math, no shuffle,
    no UDF, whole-stage codegen end to end, so scoring 100 TB is a
    map-only pass at scan speed."""
    d = load_table(spark, sf_dir, "documents")
    feats = d.select(
        "doc_id", F.expr(TOKENS).alias("toks")
    ).filter(F.size("toks") > 0).select(
        "doc_id",
        F.size("toks").alias("n_toks"),
        (F.size(F.array_distinct("toks")) / F.size("toks").cast("double")).alias("ttr"),
        (
            F.size(F.filter("toks", lambda w: w.isin(*_QL_STOPWORDS)))
            / F.size("toks").cast("double")
        ).alias("stop_ratio"),
        (
            F.expr("aggregate(toks, 0L, (a, x) -> a + length(x))")
            / F.size("toks").cast("double")
        ).alias("avg_tok_len"),
    )
    z = (
        F.lit(-1.2)
        + 0.004 * F.col("n_toks")
        + 2.0 * F.col("ttr")
        - 3.0 * F.col("stop_ratio")
        + 0.15 * F.col("avg_tok_len")
    )
    score = F.lit(1.0) / (F.lit(1.0) + F.exp(-z))
    return feats.select(
        "doc_id",
        F.round(score, 6).alias("quality_score"),
        (score >= 0.5).alias("keep"),
    )


@register(
    "sim_knn_self_join_blas",
    oracle=f"""
    WITH scored AS (
      SELECT a.vec_id AS src, b.vec_id AS nbr, a.label AS label,
             ROUND({_d_cosine('a.embedding', 'b.embedding')}, 6) AS cos_sim
      FROM embeddings a
      JOIN embeddings b ON a.label = b.label AND a.vec_id <> b.vec_id,
      range(1, 65) r(i)
      GROUP BY a.vec_id, b.vec_id, a.label
    ), ranked AS (
      SELECT src, nbr, label, cos_sim,
             ROW_NUMBER() OVER (
               PARTITION BY src ORDER BY cos_sim DESC, nbr) AS rnk
      FROM scored
    )
    SELECT src, nbr, label, cos_sim, rnk FROM ranked WHERE rnk <= 3
    """,
)
def sim_knn_self_join_blas(spark, sf_dir):
    """Same semantics as `sim_knn_self_join`, vectorized: one
    applyInPandas per IVF block computes the normalized Gram matrix
    in native BLAS (22x at sf0.1). The kernel emits only a small
    per-source candidate superset — every neighbor whose raw cosine
    is within 2e-6 of the raw 3rd-best — carrying the survivors' RAW
    vectors out through Arrow; the exact score (`_fold_cos6`, the
    oracle's bit-for-bit twin) and the rank cut (nbr tie-break)
    happen Spark-side, so rounding discipline and tie-breaks match
    the oracle by construction while the shuffle after the kernel
    carries ~3 rows per vector instead of the full block's pair
    matrix. The n×n Gram is bounded by the inlined block cap shared
    with every sibling pair kernel (VERDICT r05 item 2)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window
    from pyspark.sql.types import (
        ArrayType,
        FloatType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    out_schema = StructType(
        [
            StructField("src", LongType()),
            StructField("nbr", LongType()),
            StructField("label", IntegerType()),
            StructField("_ea", ArrayType(FloatType())),
            StructField("_eb", ArrayType(FloatType())),
        ]
    )

    # self-contained closure (workers can't import this package);
    # the cap int pickles by value
    _cap = VEC_PAIR_BLOCK_CAP

    def block_knn(pdf: pd.DataFrame) -> pd.DataFrame:
        if len(pdf) > _cap:
            raise ValueError(
                f"embedding-pair block has {len(pdf)} vectors (> cap {_cap});"
                " the O(block^2) route is bounded by design - re-cluster into"
                " smaller cells (sim_knn_ivf) or use sim_lsh_hyperplane."
            )
        ids = pdf["vec_id"].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        n = len(ids)
        raw_embs = pdf["embedding"].to_numpy()[order]
        m = np.stack(raw_embs).astype("float64")
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        g = m @ m.T
        np.fill_diagonal(g, -np.inf)
        if n - 1 <= 3:
            thr = np.full(n, -np.inf)
        else:
            # raw 3rd-best per row; candidates within 2e-6 of it form a
            # guaranteed superset of the fold-rounded top-3 (rounding
            # moves a value <= 5e-7, the fold-vs-Gram ulp gap is ~1e-15,
            # so anything below thr-2e-6 rounds strictly below the 3rd
            # place and cannot re-enter even via tie-break)
            thr = -np.partition(-g, 2, axis=1)[:, 2]
        cand_mask = g >= (thr[:, None] - 2e-6)
        # the diagonal is -inf; with the small-block thr = -inf it
        # satisfies -inf >= -inf and self-pairs leak in (r9 thin-data
        # drill: +n spurious rows) - mask it explicitly
        np.fill_diagonal(cand_mask, False)
        ii, jj = np.nonzero(cand_mask)
        return pd.DataFrame(
            {
                "src": pd.Series(ids[ii], dtype="int64"),
                "nbr": pd.Series(ids[jj], dtype="int64"),
                "label": pd.Series(
                    [int(pdf["label"].iloc[0])] * len(ii), dtype="int32"
                ),
                # object dtype: empty block -> float64 Arrow cast crash
                "_ea": pd.Series([raw_embs[i] for i in ii], dtype="object"),
                "_eb": pd.Series([raw_embs[j] for j in jj], dtype="object"),
            }
        )

    e = load_table(spark, sf_dir, "embeddings")
    cand = e.groupBy("label").applyInPandas(block_knn, out_schema)
    w = Window.partitionBy("src").orderBy(F.col("cos_sim").desc(), "nbr")
    return (
        cand.withColumn("cos_sim", _fold_cos6(F.col("_ea"), F.col("_eb")))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("src", "nbr", "label", "cos_sim", "rnk")
    )


@register(
    "text_ngram_lm_perplexity",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, unnest({D_TOKENS}) AS w FROM documents
    ), freq AS (
      SELECT w, COUNT(*) AS n_w FROM toks GROUP BY w
    ), tot AS (
      SELECT SUM(n_w) AS n FROM freq
    )
    SELECT t.doc_id,
           COUNT(*) AS n_toks,
           ROUND(AVG(-LN(f.n_w / (SELECT n FROM tot))), 6) AS avg_neg_logp,
           ROUND(EXP(AVG(-LN(f.n_w / (SELECT n FROM tot)))), 4) AS perplexity
    FROM toks t JOIN freq f ON t.w = f.w
    GROUP BY t.doc_id
    """,
)
def text_ngram_lm_perplexity(spark, sf_dir):
    """Perplexity filtering (the CCNet/CC-100 quality gate): score
    every document under a unigram LM fit on the corpus itself —
    avg negative log-probability per token, exp of it as perplexity.
    High-perplexity docs are word salad; low are repetitive
    boilerplate; production keeps the middle band (and fits the LM
    on a trusted corpus like Wikipedia instead of self-fit — same
    dataflow, the freq table just comes from elsewhere).

    Scale shape: token explode → vocab count (one hash agg,
    |vocab| rows) → join the vocab back onto the token stream
    UNHINTED (vocab is Heaps-law unbounded at corpus scale, so no
    forced broadcast — AQE broadcasts it while small, co-partitioned
    shuffle join past that; r10 broadcast-hint audit) → per-doc avg.
    Two shuffles total (vocab agg, per-doc agg); the token stream is
    never shuffled on the raw text, only on doc_id partial sums."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(F.expr(TOKENS)).alias("w"))
    freq = toks.groupBy("w").agg(F.count("*").alias("n_w"))
    total = freq.agg(F.sum("n_w").alias("n"))
    neg_logp = -F.log(F.col("n_w") / F.col("n"))
    return (
        # freq is vocab-keyed -> unbounded at corpus scale; unhinted
        # join co-partitions with freq's own groupBy("w") (r10
        # broadcast-hint audit), AQE re-broadcasts when small
        toks.join(freq, "w")
        .crossJoin(F.broadcast(total))  # bcast: scalar
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_toks"),
            F.round(F.avg(neg_logp), 6).alias("avg_neg_logp"),
            F.round(F.exp(F.avg(neg_logp)), 4).alias("perplexity"),
        )
    )


@register(
    "sample_importance_weighted",
    oracle=f"""
    WITH shares AS (
      SELECT lang, COUNT(*) AS n_s,
             COUNT(*) / CAST(SUM(COUNT(*)) OVER () AS DOUBLE) AS share
      FROM documents GROUP BY lang
    ), probs AS (
      SELECT lang, n_s,
             POW(share, -0.3) / MAX(POW(share, -0.3)) OVER () AS p_keep
      FROM shares
    )
    SELECT d.doc_id, d.lang
    FROM documents d JOIN probs p ON d.lang = p.lang
    WHERE CAST('0x' || substring(md5('iw|' || CAST(d.doc_id AS VARCHAR)), 1, 15)
               AS BIGINT) % 1000000 < CAST(FLOOR(p.p_keep * 1000000) AS BIGINT)
    """,
)
def sample_importance_weighted(spark, sf_dir):
    """Temperature resampling (T=0.7) across languages — the
    multilingual rebalancing move: keep probability per language
    ∝ share^(T-1), normalized so the rarest language keeps
    everything, so over-represented languages are down-sampled toward
    the tempered distribution. Membership is decided by the portable
    md5-h60 hash slot of the doc id — deterministic across runs,
    engines, and cluster sizes (same contract as
    sample_hash_deterministic), which is what makes the sampled
    corpus reproducible for training reruns. Two tiny aggregates
    (per-source shares) broadcast back onto the scan; the keep
    decision is a map-side filter."""
    from pyspark.sql import Window

    from ..hashutil import h60

    d = load_table(spark, sf_dir, "documents")
    shares = d.groupBy("lang").agg(F.count("*").alias("n_s"))
    w = Window.partitionBy()
    probs = shares.select(
        "lang",
        (
            F.pow(F.col("n_s") / F.sum("n_s").over(w), -0.3)
            / F.max(F.pow(F.col("n_s") / F.sum("n_s").over(w), -0.3)).over(w)
        ).alias("p_keep"),
    )
    key = "concat('iw|', cast(doc_id AS string))"
    slot = F.expr(f"{h60(key)} % 1000000")
    return (
        d.join(F.broadcast(probs), "lang")  # bcast: enum
        .filter(slot < F.floor(F.col("p_keep") * 1000000).cast("long"))
        .select("doc_id", "lang")
    )


@register(
    "pipeline_train_ready",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, text, {D_TOKENS} AS tk,
             SHA256(LOWER(TRIM(text))) AS content_hash
      FROM documents
    ),
    deduped AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY content_hash ORDER BY doc_id) AS rn
      FROM toks WHERE LEN(tk) >= 10
    ),
    feats AS (
      SELECT doc_id, lang, LEN(tk) AS n_toks,
             LEN(LIST_DISTINCT(tk))::DOUBLE / LEN(tk) AS ttr,
             LEN(LIST_FILTER(tk, w -> LIST_CONTAINS({list(_QL_STOPWORDS)}, w)))
               / CAST(LEN(tk) AS DOUBLE) AS stop_ratio,
             LIST_SUM(LIST_TRANSFORM(tk, w -> LENGTH(w)))
               / CAST(LEN(tk) AS DOUBLE) AS avg_tok_len
      FROM deduped WHERE rn = 1
    ),
    quality AS (
      SELECT doc_id, lang, n_toks,
             1.0 / (1.0 + EXP(-(-1.2 + 0.004 * n_toks + 2.0 * ttr
                                - 3.0 * stop_ratio + 0.15 * avg_tok_len))) AS q
      FROM feats
    ),
    kept_q AS (SELECT * FROM quality WHERE q >= 0.4),
    shares AS (
      SELECT lang, COUNT(*) / CAST(SUM(COUNT(*)) OVER () AS DOUBLE) AS share
      FROM kept_q GROUP BY lang
    ),
    probs AS (
      SELECT lang, POW(share, -0.3) / MAX(POW(share, -0.3)) OVER () AS p_keep
      FROM shares
    ),
    sampled AS (
      SELECT k.doc_id, k.lang, k.n_toks, k.q
      FROM kept_q k JOIN probs p ON k.lang = p.lang
      WHERE CAST('0x' || substring(md5('iw|' || CAST(k.doc_id AS VARCHAR)), 1, 15)
                 AS BIGINT) % 1000000 < CAST(FLOOR(p.p_keep * 1000000) AS BIGINT)
    )
    SELECT lang, COUNT(*) AS n_docs, CAST(SUM(n_toks) AS BIGINT) AS total_tokens,
           ROUND(AVG(q), 6) AS avg_quality,
           CAST(SUM(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                    AS BIGINT) % 1048576) AS BIGINT) AS member_digest
    FROM sampled GROUP BY lang
    """,
)
def pipeline_train_ready(spark, sf_dir):
    """The end-to-end training-data prep pipeline as ONE composed
    plan — what the individual operators exist for, chained the way a
    data team actually ships a corpus:

        length gate → exact dedup (keep min doc_id per content hash)
        → logistic quality filter → temperature (T=0.7) language
        rebalance → per-language manifest

    The manifest row per language carries exact counts, the token
    budget, mean quality, and a membership digest (sum of portable
    md5-h60 doc hashes) so the oracle pins the EXACT selected set,
    not just its size. Scale shape: everything before the manifest is
    map-side except three small shuffles (content-hash dedup,
    per-lang shares, final agg); the shares/probs table is |langs|
    rows broadcast back onto the stream. No UDFs, no collect — the
    whole chain stays in whole-stage codegen, so it runs at scan
    speed on 100 TB exactly as at sf0.01."""
    from pyspark.sql import Window

    from ..hashutil import h60

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        "lang",
        F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("content_hash"),
        F.expr(TOKENS).alias("tk"),
    ).filter(F.size("tk") >= 10)
    wdup = Window.partitionBy("content_hash").orderBy("doc_id")
    dedup = toks.withColumn("rn", F.row_number().over(wdup)).filter(F.col("rn") == 1)
    feats = dedup.select(
        "doc_id",
        "lang",
        F.size("tk").alias("n_toks"),
        (F.size(F.array_distinct("tk")) / F.size("tk").cast("double")).alias("ttr"),
        (
            F.size(F.filter("tk", lambda w: w.isin(*_QL_STOPWORDS)))
            / F.size("tk").cast("double")
        ).alias("stop_ratio"),
        (
            F.expr("aggregate(tk, 0L, (a, x) -> a + length(x))")
            / F.size("tk").cast("double")
        ).alias("avg_tok_len"),
    )
    z = (
        F.lit(-1.2)
        + 0.004 * F.col("n_toks")
        + 2.0 * F.col("ttr")
        - 3.0 * F.col("stop_ratio")
        + 0.15 * F.col("avg_tok_len")
    )
    kept_q = feats.select(
        "doc_id", "lang", "n_toks", (F.lit(1.0) / (F.lit(1.0) + F.exp(-z))).alias("q")
    ).filter(F.col("q") >= 0.4)
    wall = Window.partitionBy()
    shares = kept_q.groupBy("lang").agg(F.count("*").alias("n_l"))
    probs = shares.select(
        "lang",
        (
            F.pow(F.col("n_l") / F.sum("n_l").over(wall), -0.3)
            / F.max(F.pow(F.col("n_l") / F.sum("n_l").over(wall), -0.3)).over(wall)
        ).alias("p_keep"),
    )
    iw_key = "concat('iw|', cast(doc_id AS string))"
    slot = F.expr(f"{h60(iw_key)} % 1000000")
    sampled = kept_q.join(F.broadcast(probs), "lang").filter(  # bcast: enum
        slot < F.floor(F.col("p_keep") * 1000000).cast("long")
    )
    digest = F.expr(f"{h60('cast(doc_id AS string)')} % 1048576")
    return sampled.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").alias("total_tokens"),
        F.round(F.avg("q"), 6).alias("avg_quality"),
        F.sum(digest).alias("member_digest"),
    )


@register(
    "text_boilerplate_density",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, unnest({D_SHINGLES}) AS shingle FROM documents
    ),
    bp AS (
      SELECT shingle FROM s GROUP BY shingle HAVING COUNT(*) >= 5
    ),
    per_doc AS (
      SELECT s.doc_id,
             COUNT(*) AS n_shingles,
             COUNT(bp.shingle) AS n_boilerplate
      FROM s LEFT JOIN bp ON s.shingle = bp.shingle
      GROUP BY s.doc_id
    )
    SELECT doc_id, n_shingles, n_boilerplate,
           ROUND(n_boilerplate / CAST(n_shingles AS DOUBLE), 6) AS bp_density,
           (n_boilerplate / CAST(n_shingles AS DOUBLE) > 0.2) AS flag_boilerplate
    FROM per_doc
    """,
)
def text_boilerplate_density(spark, sf_dir):
    """The cleaning step that consumes `text_boilerplate_phrases`:
    score each document by the fraction of its (distinct) trigram
    shingles that are corpus-global boilerplate, and flag documents
    past a density threshold — C4 drops such lines, CCNet whole
    documents. Two passes over the shingle stream: the detection agg
    produces the boilerplate set (|boilerplate| rows — unhinted join
    back: shingle types are corpus-unbounded, so AQE broadcasts it
    while small and falls back to the co-partitioned shuffle join
    past that; r10 broadcast-hint audit), then the per-doc agg. The
    corpus is never shuffled on text; at 100 TB only shingle partial
    counts and doc_id partials move."""
    d = load_table(spark, sf_dir, "documents")
    s = with_shingles(d, "doc_id").select(
        "doc_id", F.explode("shingles").alias("shingle")
    )
    bp = (
        s.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= 5)
        .select("shingle", F.lit(1).alias("is_bp"))
    )
    per_doc = (
        # bp is shingle-keyed -> unbounded at corpus scale; same
        # unhinted co-partitioned join as the vocab-keyed fixes above
        s.join(bp, "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.count("is_bp").alias("n_boilerplate"),
        )
    )
    density = F.col("n_boilerplate") / F.col("n_shingles").cast("double")
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_boilerplate",
        F.round(density, 6).alias("bp_density"),
        (density > 0.2).alias("flag_boilerplate"),
    )


@register(
    "text_langid_confusion",
    oracle=f"""
    WITH scores AS (
      SELECT doc_id, lang AS true_lang,
             {_langid_scores_sql('toks', 'list_filter')}
      FROM (SELECT doc_id, lang, {D_TOKENS} AS toks FROM documents)
    ),
    pred AS (
      SELECT true_lang,
             CASE GREATEST(score_de, score_en, score_es, score_fr, score_zh)
               WHEN score_de THEN 'de' WHEN score_en THEN 'en'
               WHEN score_es THEN 'es' WHEN score_fr THEN 'fr' ELSE 'zh' END
               AS predicted_lang
      FROM scores
    )
    SELECT true_lang, predicted_lang, COUNT(*) AS n_docs,
           ROUND(COUNT(*) / CAST(SUM(COUNT(*))
                 OVER (PARTITION BY true_lang) AS DOUBLE), 6) AS row_frac
    FROM pred GROUP BY true_lang, predicted_lang
    """,
)
def text_langid_confusion(spark, sf_dir):
    """In-engine classifier evaluation: the confusion matrix of the
    marker-word language ID against gold labels, with per-true-lang
    row fractions (recall on the diagonal). This is how a pipeline
    validates a cheap classifier against a labeled sample before
    trusting it on 100 TB — one agg over the scored stream, matrix
    size |langs|², no collect. The same shape evaluates any
    row-level classifier in this engine (quality filters, PII
    detectors): predict map-side, aggregate the (gold, pred) grid."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.col("lang").alias("true_lang"), F.expr(TOKENS).alias("toks"))
    scores = t.select(
        "doc_id",
        "true_lang",
        *[
            F.size(F.expr(f"filter(toks, w -> w IN {m})")).alias(f"score_{lang}")
            for lang, m in _LANG_MARKERS.items()
        ],
    )
    top = F.greatest(*[F.col(f"score_{k}") for k in _LANG_MARKERS])
    pred = (
        F.when(F.col("score_de") == top, "de")
        .when(F.col("score_en") == top, "en")
        .when(F.col("score_es") == top, "es")
        .when(F.col("score_fr") == top, "fr")
        .otherwise("zh")
    )
    from pyspark.sql import Window

    counts = (
        scores.select("true_lang", pred.alias("predicted_lang"))
        .groupBy("true_lang", "predicted_lang")
        .agg(F.count("*").alias("n_docs"))
    )
    w = Window.partitionBy("true_lang")
    return counts.select(
        "true_lang",
        "predicted_lang",
        "n_docs",
        F.round(F.col("n_docs") / F.sum("n_docs").over(w), 6).alias("row_frac"),
    )


# 16 fixed odd multipliers/offsets for the PORTABLE MinHash used by
# the recall report: permutation s of a 20-bit base hash is
# (A[s]*h + B[s]) % 2^20 — products stay < 2^40, exact in BIGINT in
# every engine (no xxhash64 dependency, so the oracle re-computes
# IDENTICAL signatures).
_LSH_A = [953617, 583261, 462949, 807503, 372173, 679289, 246713, 918043,
          534851, 720959, 164999, 891737, 438409, 602533, 350843, 775231]
_LSH_B = [377851, 924119, 151007, 686477, 432259, 873721, 295081, 518269,
          749923, 102559, 637447, 284129, 960737, 415469, 568223, 831599]
_LSH_CONFIGS = [(8, 2), (4, 4), (2, 8)]


def _portable_sig_spark() -> str:
    a = "array(" + ", ".join(str(v) for v in _LSH_A) + ")"
    b = "array(" + ", ".join(str(v) for v in _LSH_B) + ")"
    return (
        f"transform(sequence(0, 15), s -> array_min(transform(hs, h ->"
        f" (element_at({a}, s + 1) * h + element_at({b}, s + 1)) % 1048576)))"
    )


def _portable_sig_duck() -> str:
    a = "[" + ", ".join(str(v) for v in _LSH_A) + "]"
    b = "[" + ", ".join(str(v) for v in _LSH_B) + "]"
    return (
        f"list_transform(range(0, 16), s -> list_min(list_transform(hs, h ->"
        f" ({a}[s + 1] * h + {b}[s + 1]) % 1048576)))"
    )


def _lsh_recall_oracle() -> str:
    branches = []
    for b, r in _LSH_CONFIGS:
        branches.append(f"""
    SELECT {b} AS bands, {r} AS rows_per_band,
           COUNT(*) AS n_true,
           COUNT(*) FILTER (
             len(list_filter(range(0, {b}), i ->
                 sig_a[i * {r} + 1 : i * {r} + {r}] = sig_b[i * {r} + 1 : i * {r} + {r}])) > 0
           ) AS n_found,
           ROUND(COUNT(*) FILTER (
             len(list_filter(range(0, {b}), i ->
                 sig_a[i * {r} + 1 : i * {r} + {r}] = sig_b[i * {r} + 1 : i * {r} + {r}])) > 0
           ) / CAST(COUNT(*) AS DOUBLE), 6) AS recall
    FROM truth""")
    body = "\n    UNION ALL\n".join(branches)
    return f"""
    WITH sh AS (
      SELECT doc_id, lang, source, {D_SHINGLES} AS shingles FROM documents
    ),
    sigs AS (
      SELECT doc_id, lang, source, shingles, {_portable_sig_duck()} AS sig
      FROM (SELECT doc_id, lang, source, shingles,
                   list_transform(shingles, sh -> {_d_h60('sh')} % 1048576) AS hs
            FROM sh WHERE len(shingles) > 0)
    ),
    truth AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.sig AS sig_a, b.sig AS sig_b
      FROM sigs a JOIN sigs b
        ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
      WHERE LEN(LIST_INTERSECT(a.shingles, b.shingles))::DOUBLE /
            LEN(LIST_DISTINCT(LIST_CONCAT(a.shingles, b.shingles))) >= 0.7
    )
    {body}
    """


@register("dedup_lsh_recall_report", oracle=_lsh_recall_oracle())
def dedup_lsh_recall_report(spark, sf_dir):
    """LSH parameter tuning as a query: for each banding of a shared
    16-permutation MinHash signature — (8 bands x 2 rows), (4x4),
    (2x8) — what fraction of the TRUE near-dup pairs (exact blocked
    Jaccard >= 0.7) would surface as LSH candidates? This is the
    recall/efficiency table a team reads before committing band
    parameters for a 100 TB dedup run: more bands -> higher recall,
    more candidate volume. Run on a labeled/blocked sample exactly
    like this, then ship the chosen config into the banded pipeline
    (dedup_near_minhash).

    Recall needs candidate status only for TRUE pairs, so the plan
    joins truth pairs' signatures directly and tests band equality
    per pair — no candidate-set materialization at all. Signatures
    use the engine-portable affine rehash of a 20-bit md5 base
    (products < 2^40, exact in BIGINT everywhere), so the oracle
    re-derives bit-identical signatures and the whole report is
    hash-graded."""
    d = load_table(spark, sf_dir, "documents")
    _assert_blocks_bounded(d, name="dedup_lsh_recall_report")
    base = with_shingles(d, "doc_id", "lang", "source", nonempty=True)
    # 16-perm signature via explode + codegen min-aggregates: the
    # higher-order form (transform+array_min per seed) runs ~16x
    # |shingles| interpreted lambda steps per doc; exploding the
    # staged shingle hashes once and taking 16 plain MIN aggregates
    # keeps the whole projection in whole-stage codegen. Same
    # values — min of the affine images, computed per element
    # either way. With the size-ratio prefilter and the truth
    # checkpoint below, this query went 19.6 s -> 5.5 s at sf0.1.
    hs_rows = base.select(
        "doc_id",
        F.explode(
            F.expr(f"transform(shingles, sh -> {_h60('sh')} % 1048576)")
        ).alias("h"),
    )
    sig_tbl = hs_rows.groupBy("doc_id").agg(
        *[
            F.min((F.col("h") * _LSH_A[s] + _LSH_B[s]) % 1048576).alias(f"_m{s}")
            for s in range(16)
        ]
    )
    sigs = base.join(sig_tbl, "doc_id").withColumn(
        "sig", F.array(*[f"_m{s}" for s in range(16)])
    ).drop(*[f"_m{s}" for s in range(16)])
    sigs = sigs.withColumn("n_sh", F.size("shingles"))
    a, b = sigs.alias("a"), sigs.alias("b")
    # size-ratio prefilter (same pruning as dedup_ngram_jaccard):
    # J(A,B) <= min|A|,|B| / max|A|,|B|, so pairs whose sizes differ
    # beyond the threshold skip the set intersection entirely —
    # result-identical, 3x on this query at sf0.1
    size_ok = (
        F.least(F.col("a.n_sh"), F.col("b.n_sh"))
        / F.greatest(F.col("a.n_sh"), F.col("b.n_sh")).cast("double")
        >= 0.7
    )
    # staged intersect + arithmetic union (r12, same fix as
    # dedup_ngram_jaccard): |A∪B| = n_a + n_b − inter for distinct
    # shingle arrays; no union array, one intersect per pair.
    scored = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(size_ok)
        .select(
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
            # nopush (r13): one intersect per pair — see dedup_ngram_jaccard
            nopush(F.size(F.array_intersect("a.shingles", "b.shingles"))).alias("inter"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
    )
    truth = scored.filter(
        F.col("inter")
        / (F.col("n_a") + F.col("n_b") - F.col("inter")).cast("double")
        >= 0.7
    ).select("sig_a", "sig_b")
    # truth is tiny (n_true pairs x two 16-int signatures) but its
    # lineage carries the md5 signature projection and the blocked
    # jaccard join — and each config branch below re-derives it.
    # Materialize once (same localCheckpoint pattern as
    # dedup_cluster_keep_min).
    truth = truth.localCheckpoint(eager=True)
    reports = []
    for bands, r in _LSH_CONFIGS:
        matched = F.expr(
            f"exists(sequence(0, {bands - 1}), i ->"
            f" slice(sig_a, i * {r} + 1, {r}) == slice(sig_b, i * {r} + 1, {r}))"
        )
        reports.append(
            truth.agg(
                F.lit(bands).alias("bands"),
                F.lit(r).alias("rows_per_band"),
                F.count("*").alias("n_true"),
                # coalesce: SUM over an empty truth set is NULL but the
                # oracle's COUNT(*) FILTER is 0 (r9 2%-thin drill);
                # recall stays NULL-on-empty in both engines (0/0)
                F.coalesce(F.sum(matched.cast("long")), F.lit(0)).alias("n_found"),
                F.round(
                    F.sum(matched.cast("long")) / F.count("*").cast("double"), 6
                ).alias("recall"),
            )
        )
    out = reports[0]
    for rep in reports[1:]:
        out = out.unionAll(rep)
    return out


@register(
    "dedup_containment",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, lang, source, {D_SHINGLES} AS shingles FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           {d_round_ie("LEN(LIST_INTERSECT(a.shingles, b.shingles))::DOUBLE / LEN(a.shingles)", 6)} AS containment_a_in_b,
           {d_round_ie("LEN(LIST_INTERSECT(a.shingles, b.shingles))::DOUBLE / LEN(b.shingles)", 6)} AS containment_b_in_a
    FROM sh a JOIN sh b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    WHERE LEN(a.shingles) > 0 AND LEN(b.shingles) > 0
      AND LEN(LIST_INTERSECT(a.shingles, b.shingles))::DOUBLE /
          LEAST(LEN(a.shingles), LEN(b.shingles)) >= 0.5
    """,
)
def dedup_containment(spark, sf_dir):
    """Asymmetric near-dup: containment C(A,B) = |A∩B| / |A| — the
    measure Jaccard misses. A short document quoted wholesale inside
    a long one has LOW Jaccard (the union is big) but containment
    ≈ 1 in one direction; training-data pipelines use containment to
    catch quotation/inclusion duplicates and benchmark text embedded
    in larger pages. Emits both directions for pairs where the
    smaller side is ≥ 50% contained. Same blocked equi-join shape as
    the Jaccard twin — sub-quadratic by blocking, and the
    max-containment prefilter (|A∩B| ≤ min|A|,|B|) is built into the
    threshold on the smaller side."""
    d = load_table(spark, sf_dir, "documents")
    _assert_blocks_bounded(d, name="dedup_containment")
    # nonempty replaces the old post-join emptiness pair-filter: a
    # shingle-free doc can never reach the 0.5 threshold, and the
    # pushed pair-filter rebuilt shingle arrays (see with_shingles).
    sh = with_shingles(d, "doc_id", "lang", "source", nonempty=True).withColumn(
        "n_sh", F.size("shingles")
    )
    a, b = sh.alias("a"), sh.alias("b")
    # staged intersect (r12) + nopush barrier (r13): the old inline
    # `inter` was referenced by the 0.5 prefilter AND both containment
    # outputs — up to three array intersects per pair; staging got it
    # to two (the pushed prefilter re-inlined it into the join
    # condition), the barrier to exactly one.
    scored = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            nopush(
                F.size(F.array_intersect("a.shingles", "b.shingles")).cast("double")
            ).alias("inter"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
    )
    return (
        scored.filter(
            F.col("inter") / F.least("n_a", "n_b").cast("double") >= 0.5
        )
        .select(
            "doc_a",
            "doc_b",
            round_ie(F.col("inter") / F.col("n_a").cast("double"), 6).alias(
                "containment_a_in_b"
            ),
            round_ie(F.col("inter") / F.col("n_b").cast("double"), 6).alias(
                "containment_b_in_a"
            ),
        )
    )


@register(
    "sim_range_search",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT e.vec_id, e.label, ROUND({_d_cosine('e.embedding', 'q.qv')}, 6) AS cos_sim
      FROM embeddings e, q, range(1, 65) r(i)
      WHERE e.vec_id <> 0
      GROUP BY e.vec_id, e.label
    )
    SELECT vec_id, label, cos_sim FROM scored WHERE cos_sim >= 0.2
    """,
)
def sim_range_search(spark, sf_dir):
    """Radius search — everything within a similarity threshold of
    the query, the other half of the ANN API surface (top-k answers
    'give me the closest'; radius answers 'give me everything close
    ENOUGH', the right primitive for dedup-against-query and
    retrieval with a quality floor, where result counts are
    data-dependent). Same map-only shape as sim_knn_query: broadcast
    query vector, JVM-expression cosine, pushed threshold filter —
    no top-k heap, no shuffle at all (the filter replaces
    TakeOrdered), so at 100 TB it is one scan at full parallelism."""
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(
        F.col("embedding").alias("qv"),
        _norm(F.col("embedding")).alias("qn"),
    )
    return (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))  # bcast: scalar
        # nopush (r13): the pushed >= 0.2 filter duplicated the cosine
        # folds below this projection (every row paid the fold in the
        # filter, survivors again in the projection); the predicate is
        # over a computed fold so it could never reach the parquet
        # scan anyway — the barrier costs nothing and halves the fold.
        .select(
            "vec_id",
            "label",
            nopush(
                F.round(
                    _dot(F.col("embedding"), F.col("qv"))
                    / (_norm(F.col("embedding")) * F.col("qn")),
                    6,
                )
            ).alias("cos_sim"),
        )
        .filter(F.col("cos_sim") >= 0.2)
    )


def _d_cosine_prefix(a: str, b: str) -> str:
    # same math as _d_cosine but the companion range() bounds the dims
    return _d_cosine(a, b)


@register(
    "embedding_truncation_recall",
    oracle=f"""
    WITH q AS MATERIALIZED (
      SELECT vec_id AS q_id, embedding AS qv FROM embeddings WHERE vec_id IN (0, 1, 2)
    ),
    full_rank AS (
      SELECT q.q_id, e.vec_id,
             ROW_NUMBER() OVER (
               PARTITION BY q.q_id
               ORDER BY ROUND({_d_cosine('e.embedding', 'q.qv')}, 6) DESC, e.vec_id
             ) AS rn
      FROM embeddings e, q, range(1, 65) r(i)
      WHERE e.vec_id <> q.q_id
      GROUP BY q.q_id, e.vec_id
    ),
    trunc_rank AS (
      SELECT q.q_id, e.vec_id,
             ROW_NUMBER() OVER (
               PARTITION BY q.q_id
               ORDER BY ROUND({_d_cosine('e.embedding', 'q.qv')}, 6) DESC, e.vec_id
             ) AS rn
      FROM embeddings e, q, range(1, 17) r(i)
      WHERE e.vec_id <> q.q_id
      GROUP BY q.q_id, e.vec_id
    )
    SELECT f.q_id,
           COUNT(*) FILTER (t.vec_id IS NOT NULL) AS n_overlap,
           ROUND(COUNT(*) FILTER (t.vec_id IS NOT NULL) / 5.0, 6) AS recall_at_5
    FROM (SELECT * FROM full_rank WHERE rn <= 5) f
    LEFT JOIN (SELECT * FROM trunc_rank WHERE rn <= 5) t
      ON f.q_id = t.q_id AND f.vec_id = t.vec_id
    GROUP BY f.q_id
    """,
)
def embedding_truncation_recall(spark, sf_dir):
    """Matryoshka-style dimension truncation, measured: rank the
    corpus by full 64-dim cosine and by the FIRST 16 DIMS only, and
    report recall@5 of the truncated ranking per query. This is the
    accept/reject experiment behind shipping truncated embeddings
    (4x less memory, bandwidth, and ANN index size at 100 TB) — if
    recall@5 holds on a labeled sample, the pipeline switches to the
    prefix and keeps the full vector only for rerank. Cosine over a
    prefix is the same JVM expression over `slice(embedding, 1, 16)`;
    both rankings are windows over the per-query scored stream with
    rounded scores and vec_id tie-breaks, so the comparison is
    engine-deterministic."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id").isin(0, 1, 2)).select(
        F.col("vec_id").alias("q_id"),
        F.col("embedding").alias("qv"),
        _norm(F.col("embedding")).alias("qn"),
    )
    base = e.crossJoin(F.broadcast(q)).filter(F.col("vec_id") != F.col("q_id"))  # bcast: keys

    def ranked(vec_expr, q_expr):
        cos = F.round(
            _dot(vec_expr, q_expr) / (_norm(vec_expr) * _norm(q_expr)), 6
        )
        w = Window.partitionBy("q_id").orderBy(F.col("cos").desc(), "vec_id")
        return (
            base.select("q_id", "vec_id", cos.alias("cos"))
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= 5)
            .select("q_id", "vec_id")
        )

    full = ranked(F.col("embedding"), F.col("qv"))
    # rename BOTH columns: full and trunc share base's lineage, so
    # unrenamed attributes resolve to the same expression ids and the
    # join condition degenerates
    trunc = (
        ranked(F.slice(F.col("embedding"), 1, 16), F.slice(F.col("qv"), 1, 16))
        .withColumnRenamed("vec_id", "t_vec_id")
        .withColumnRenamed("q_id", "t_q_id")
    )
    return (
        full.join(
            trunc,
            (F.col("q_id") == F.col("t_q_id"))
            & (F.col("vec_id") == F.col("t_vec_id")),
            "left",
        )
        .groupBy("q_id")
        .agg(
            F.count("t_vec_id").alias("n_overlap"),
            F.round(F.count("t_vec_id") / 5.0, 6).alias("recall_at_5"),
        )
    )


@register(
    "text_zipf_fit",
    oracle=f"""
    WITH freq AS (
      SELECT w, COUNT(*) AS n
      FROM (SELECT unnest({D_TOKENS}) AS w FROM documents)
      GROUP BY w
    ),
    ranked AS (
      SELECT LN(ROW_NUMBER() OVER (ORDER BY n DESC, w)) AS x, LN(n) AS y
      FROM freq
    )
    SELECT COUNT(*) AS vocab_size,
           ROUND((COUNT(*) * SUM(x * y) - SUM(x) * SUM(y)) /
                 (COUNT(*) * SUM(x * x) - SUM(x) * SUM(x)), 6) AS zipf_slope,
           ROUND((SUM(y) - ((COUNT(*) * SUM(x * y) - SUM(x) * SUM(y)) /
                 (COUNT(*) * SUM(x * x) - SUM(x) * SUM(x))) * SUM(x))
                 / COUNT(*), 6) AS intercept
    FROM ranked
    """,
)
def text_zipf_fit(spark, sf_dir):
    """Corpus health check: fit log(freq) ~ a + s*log(rank) over the
    vocabulary — natural language sits near s = -1 (Zipf); templated
    or synthetic text drifts flat, OCR noise drifts steep. Pipelines
    run this per source/snapshot to catch corpus regressions before
    training. One token explode + vocab agg, a distributed exact
    rank over |vocab| (operators/ranking.py — a web-scale corpus has
    a 100M+ surface-form vocabulary, too wide for the naive
    single-partition rank window), then closed-form least squares in
    one aggregate — no iteration, no driver math. Rank ties break on
    the word so both engines rank identically; the regression sums
    run over ~|vocab| values of ln-magnitude, far below the round-6
    boundary-risk class (num.py)."""
    from .ranking import with_global_rank

    d = load_table(spark, sf_dir, "documents")
    freq = (
        d.select(F.explode(F.expr(TOKENS)).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("n"))
    )
    ranked = with_global_rank(freq, [F.col("n").desc(), "w"], "_r").select(
        F.log(F.col("_r").cast("double")).alias("x"),
        F.log(F.col("n").cast("double")).alias("y"),
    )
    cnt = F.count("*")
    slope = (cnt * F.sum(F.col("x") * F.col("y")) - F.sum("x") * F.sum("y")) / (
        cnt * F.sum(F.col("x") * F.col("x")) - F.sum("x") * F.sum("x")
    )
    return ranked.agg(
        cnt.alias("vocab_size"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((F.sum("y") - slope * F.sum("x")) / cnt, 6).alias("intercept"),
    )


@register(
    "pipeline_dedup_cascade",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, lang, source,
             SHA256(LOWER(TRIM(text))) AS content_hash,
             {D_SHINGLES} AS shingles
      FROM documents
    ),
    exact_kept AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY content_hash ORDER BY doc_id) AS rn
        FROM sh
      ) WHERE rn = 1
    ),
    near_pairs AS (
      SELECT b.doc_id AS loser
      FROM exact_kept a JOIN exact_kept b
        ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
      WHERE LEN(a.shingles) > 0 AND LEN(b.shingles) > 0
        AND LEN(LIST_INTERSECT(a.shingles, b.shingles))::DOUBLE /
            LEN(LIST_DISTINCT(LIST_CONCAT(a.shingles, b.shingles))) >= 0.7
    ),
    near_kept AS (
      SELECT * FROM exact_kept
      WHERE doc_id NOT IN (SELECT loser FROM near_pairs)
    )
    SELECT 'input' AS stage, (SELECT COUNT(*) FROM sh) AS n_docs
    UNION ALL
    SELECT 'after_exact', (SELECT COUNT(*) FROM exact_kept)
    UNION ALL
    SELECT 'after_near', (SELECT COUNT(*) FROM near_kept)
    """,
)
def pipeline_dedup_cascade(spark, sf_dir):
    """The dedup cascade as production runs it — cheap stages first,
    each stage only sees the previous stage's survivors:

        exact (hash groupBy, removes byte-dups for pennies)
        → near (blocked exact-Jaccard ≥ 0.7 on what remains,
          loser = larger doc_id)

    and the report is the funnel: documents surviving each stage.
    Ordering matters for cost, not correctness: exact dedup first
    shrinks the quadratic stage's blocks. At 100 TB the near stage
    swaps in the banded MinHash (dedup_near_minhash) — same funnel
    row, sub-quadratic candidates; the exact-Jaccard form here keeps
    the whole cascade hash-free for the oracle."""
    d = load_table(spark, sf_dir, "documents")
    # the cap must gate the NEAR stage's post-exact blocks, but exact
    # dedup only ever shrinks them — guarding the input is sufficient
    # and one scan cheaper
    _assert_blocks_bounded(d, name="pipeline_dedup_cascade")
    from pyspark.sql import Window

    sh = with_shingles(d, "doc_id", "lang", "source").join(
        d.select("doc_id", F.sha2(F.lower(F.trim("text")), 256).alias("content_hash")),
        "doc_id",
    )
    wdup = Window.partitionBy("content_hash").orderBy("doc_id")
    exact_kept = sh.withColumn("rn", F.row_number().over(wdup)).filter(
        F.col("rn") == 1
    )
    a, b = exact_kept.alias("a"), exact_kept.alias("b")
    # staged intersect + arithmetic union (r12, same fix as
    # dedup_ngram_jaccard): one intersect per pair, no union array.
    scored_pairs = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter((F.size("a.shingles") > 0) & (F.size("b.shingles") > 0))
        # nopush (r13): holds the pushed >= 0.7 predicate above this
        # projection so the intersect runs once per pair, not once in
        # the join-side filter plus once here.
        .select(
            F.col("b.doc_id").alias("doc_id"),
            nopush(F.size(F.array_intersect("a.shingles", "b.shingles"))).alias("inter"),
            F.size("a.shingles").alias("n_a"),
            F.size("b.shingles").alias("n_b"),
        )
    )
    losers = (
        scored_pairs.filter(
            F.col("inter")
            / (F.col("n_a") + F.col("n_b") - F.col("inter")).cast("double")
            >= 0.7
        )
        .select("doc_id")
        .distinct()
    )
    near_kept = exact_kept.join(losers, "doc_id", "left_anti")

    def stage(name, df):
        return df.agg(F.lit(name).alias("stage"), F.count("*").alias("n_docs"))

    return (
        stage("input", sh)
        .unionAll(stage("after_exact", exact_kept))
        .unionAll(stage("after_near", near_kept))
    )


@register(
    "sample_k_per_group",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id, lang,
             ROW_NUMBER() OVER (
               PARTITION BY lang
               ORDER BY {_d_h60("'kpg|' || CAST(doc_id AS VARCHAR)")}, doc_id
             ) AS rn
      FROM documents
    )
    SELECT doc_id, lang FROM ranked WHERE rn <= 40
    """,
)
def sample_k_per_group(spark, sf_dir):
    """Balanced deterministic sampling: exactly min(k, |group|)
    documents per language, selected by portable-hash order — how
    eval and calibration sets get drawn (equal representation, and
    the SAME members on every run, engine, and cluster; a seeded
    rand() guarantees none of those). Hash order is uniform over the
    group, so this is simple random sampling conditioned on
    reproducibility.

    Scale shape (restructured in the r7 funnel sweep): a single
    ``PARTITION BY lang`` window sorts the whole corpus inside
    |langs| tasks. The two-phase partial-top-k restatement — the
    per-group TakeOrdered the original docstring promised — runs a
    local top-40 per (lang, input partition) window first (parallel,
    heap-bounded per task: each scan partition keeps ≤ 40 rows per
    lang), then the exact global window over the ≤ 40·P survivors
    per lang, metadata-scale. Local winners are a superset of the
    global top-40 under ANY input layout, so the final result is
    layout-invariant (asserted by the invariance sweep)."""
    from pyspark.sql import Window

    from ..hashutil import h60

    d = load_table(spark, sf_dir, "documents")
    key = "concat('kpg|', cast(doc_id AS string))"
    h = F.expr(h60(key))
    cand = d.select("doc_id", "lang", h.alias("_h")).withColumn(
        "_pid", F.spark_partition_id()
    )
    w_loc = Window.partitionBy("lang", "_pid").orderBy("_h", "doc_id")
    local = cand.withColumn("_lrn", F.row_number().over(w_loc)).filter(
        F.col("_lrn") <= 40
    )
    w = Window.partitionBy("lang").orderBy("_h", "doc_id")
    return (
        local.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 40)
        .select("doc_id", "lang")
    )


@register(
    "pipeline_token_budget_plan",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, lang, len({D_TOKENS}) AS n_toks,
             {_d_h60("'tb|' || CAST(doc_id AS VARCHAR)")} AS h
      FROM documents
    ),
    walk AS (
      SELECT doc_id, lang, n_toks,
             COALESCE(SUM(n_toks) OVER (
               PARTITION BY lang ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS before
      FROM toks
    ),
    kept AS (
      SELECT * FROM walk WHERE before < 4000
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS tokens_kept,
           CAST(SUM(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                    AS BIGINT) % 1048576) AS BIGINT) AS member_digest
    FROM kept GROUP BY lang
    """,
)
def pipeline_token_budget_plan(spark, sf_dir):
    """Token-budget planning: fill a fixed per-language budget (4000
    tokens here; '200B per language' in production) by walking each
    language's documents in portable-hash order and keeping documents
    until the budget is crossed — greedy fill with one boundary doc
    allowed, the rule every mix plan needs stated deterministically.
    Because the walk order is the reproducible hash order (not
    arrival order), the plan is stable across engines and reruns,
    and the membership digest pins the exact chosen set. Integer
    token counts make the cumulative cutoff fp-free.

    Scale shape (restructured in the r7 funnel sweep): the natural
    ``PARTITION BY lang`` running sum walks every document inside
    |langs| window tasks — the weighted-median funnel class. The
    cumulative now comes from the distributed prefix-sum kernel
    (operators/ranking.py) over the total order (lang, hash,
    doc_id), with each language's starting offset recovered from a
    |langs|-row broadcast — every stage parallel, indifferent to how
    few languages the corpus has."""
    from ..hashutil import h60
    from .ranking import with_global_prefix_sum

    d = load_table(spark, sf_dir, "documents")
    key = "concat('tb|', cast(doc_id AS string))"
    toks = d.select(
        "doc_id",
        "lang",
        F.size(F.expr(TOKENS)).alias("n_toks"),
        F.expr(h60(key)).alias("h"),
    )
    g = with_global_prefix_sum(toks, ["lang", "h", "doc_id"], "n_toks", "pcum")
    offs = g.groupBy("lang").agg(
        (F.max("pcum") - F.sum("n_toks")).alias("_goff")
    )
    walk = g.join(F.broadcast(offs), "lang").withColumn(  # bcast: enum
        "before", F.col("pcum") - F.col("n_toks") - F.col("_goff")
    )
    kept = walk.filter(F.col("before") < 4000)
    digest = F.expr(f"{h60('cast(doc_id AS string)')} % 1048576")
    return kept.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").alias("tokens_kept"),
        F.sum(digest).alias("member_digest"),
    )


@register(
    "corpus_drift_psi",
    oracle=f"""
    WITH halves AS (
      SELECT CASE WHEN {_d_h60("'psi|' || CAST(doc_id AS VARCHAR)")} % 2 = 0
                  THEN 'a' ELSE 'b' END AS half,
             LEAST(CAST(FLOOR(n_chars / 100.0) AS BIGINT), 9) AS len_bucket
      FROM documents
    ),
    counts AS (
      SELECT len_bucket,
             COUNT(*) FILTER (half = 'a') AS n_a,
             COUNT(*) FILTER (half = 'b') AS n_b
      FROM halves GROUP BY len_bucket
    ),
    fracs AS (
      SELECT len_bucket, n_a, n_b,
             (n_a + 0.5) / (SUM(n_a) OVER () + 0.5 * COUNT(*) OVER ()) AS p_a,
             (n_b + 0.5) / (SUM(n_b) OVER () + 0.5 * COUNT(*) OVER ()) AS p_b
      FROM counts
    )
    SELECT len_bucket, n_a, n_b,
           ROUND((p_a - p_b) * LN(p_a / p_b), 6) AS psi_term
    FROM fracs
    """,
)
def corpus_drift_psi(spark, sf_dir):
    """Distribution-drift monitoring: the Population Stability Index
    between two corpus cohorts (here a deterministic hash A/B split
    standing in for snapshot-vs-snapshot), per document-length
    bucket: PSI_term = (p_a - p_b) * ln(p_a / p_b); the summed index
    past ~0.2 is the retrain/investigate alarm in every ML-ops
    runbook. Laplace-smoothed fractions (+0.5) keep the log finite
    for empty buckets. Per-bucket terms are emitted (rather than the
    single sum) so the alarm can localize WHERE the distribution
    moved. Two scans' worth of work in one: the cohort split is a
    map-side hash, buckets are a 10-key agg, the window runs over 10
    rows."""
    from pyspark.sql import Window

    from ..hashutil import h60

    d = load_table(spark, sf_dir, "documents")
    key = "concat('psi|', cast(doc_id AS string))"
    halves = d.select(
        F.when(F.expr(h60(key)) % 2 == 0, "a").otherwise("b").alias("half"),
        F.least(F.floor(F.col("n_chars") / 100.0), F.lit(9)).alias("len_bucket"),
    )
    counts = halves.groupBy("len_bucket").agg(
        F.sum(F.when(F.col("half") == "a", 1).otherwise(0)).alias("n_a"),
        F.sum(F.when(F.col("half") == "b", 1).otherwise(0)).alias("n_b"),
    )
    w = Window.partitionBy()
    p_a = (F.col("n_a") + 0.5) / (F.sum("n_a").over(w) + 0.5 * F.count("*").over(w))
    p_b = (F.col("n_b") + 0.5) / (F.sum("n_b").over(w) + 0.5 * F.count("*").over(w))
    return counts.select(
        "len_bucket",
        "n_a",
        "n_b",
        F.round((p_a - p_b) * F.log(p_a / p_b), 6).alias("psi_term"),
    )


@register(
    "dedup_substring_spans",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {D_TOKENS} AS toks FROM documents
    ),
    pos_sh AS (
      SELECT doc_id, len(toks) AS n_tokens,
             UNNEST(list_transform(range(1, len(toks) - 1), i -> i - 1)) AS pos,
             UNNEST(list_transform(range(1, len(toks) - 1),
                    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
      FROM t WHERE len(toks) >= 3
    ),
    hashed AS (
      SELECT doc_id, n_tokens, pos, {_d_h60('sh')} AS h FROM pos_sh
    ),
    shared AS (
      SELECT h FROM hashed GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    dup_pos AS (
      SELECT doc_id, n_tokens, pos FROM hashed JOIN shared USING (h)
    ),
    runs AS (
      SELECT doc_id, n_tokens, pos,
             CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 3
                  THEN 0 ELSE 1 END AS brk
      FROM dup_pos
    ),
    spans AS (
      SELECT doc_id, n_tokens, pos,
             SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS span_id
      FROM runs
    ),
    per_span AS (
      SELECT doc_id, n_tokens, span_id,
             MAX(pos) - MIN(pos) + 3 AS span_tokens
      FROM spans GROUP BY doc_id, n_tokens, span_id
    )
    SELECT doc_id, n_tokens,
           COUNT(*) AS dup_span_cnt,
           CAST(SUM(span_tokens) AS BIGINT) AS dup_token_cnt,
           ROUND(CAST(SUM(span_tokens) AS DOUBLE) / n_tokens, 6) AS dup_ratio
    FROM per_span GROUP BY doc_id, n_tokens
    """,
)
def dedup_substring_spans(spark, sf_dir):
    """Exact repeated-SPAN detection — the span-granular form of
    'Deduplicating Training Data Makes Language Models Better' (Lee
    et al. 2022): instead of whole-doc near-dup, find the stretches
    of text that recur verbatim across documents (boilerplate,
    licenses, quoted chunks) and measure how much of each doc is
    duplicated material. Positional trigram shingles are hashed
    (portable h60), shingles seen in ≥2 distinct docs are flagged,
    and per doc the flagged positions are merged into maximal
    contiguous spans (a trigram at pos p covers tokens p..p+2, so
    gaps ≤3 merge) via the island trick — break flag + running sum.
    Output: per affected doc, span count, duplicated-token total and
    duplicated fraction.

    Physical shape at 100 TB: the suffix-array approach is a
    single-machine algorithm; this is its distributed restatement —
    one hash agg on the 60-bit shingle hash (partial agg collapses
    each doc's repeats map-side), one hash semi-join back on the
    hash (NEVER on shingle strings — 8 bytes/row shuffled), one
    window on doc_id. No all-pairs stage anywhere, so cost is linear
    in corpus token count."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.expr(TOKENS).alias("toks"))
    pos_sh = toks.select(
        "doc_id",
        F.size("toks").alias("n_tokens"),
        F.posexplode(
            F.expr(
                "CASE WHEN size(toks) >= 3 THEN"
                " transform(sequence(0, size(toks) - 3),"
                " i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"
                " ELSE cast(array() AS array<string>) END"
            )
        ).alias("pos", "sh"),
    )
    hashed = pos_sh.select(
        "doc_id", "n_tokens", "pos", F.expr(_h60("sh")).alias("h")
    )
    shared = (
        hashed.groupBy("h")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("h")
    )
    from pyspark.sql import Window

    dup_pos = hashed.join(shared, "h").select("doc_id", "n_tokens", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    runs = dup_pos.withColumn(
        "brk",
        F.when(F.col("pos") - F.lag("pos").over(w) <= 3, 0).otherwise(1),
    )
    spans = runs.withColumn(
        "span_id",
        F.sum("brk").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)),
    )
    per_span = spans.groupBy("doc_id", "n_tokens", "span_id").agg(
        (F.max("pos") - F.min("pos") + 3).alias("span_tokens")
    )
    return per_span.groupBy("doc_id", "n_tokens").agg(
        F.count("*").alias("dup_span_cnt"),
        F.sum("span_tokens").cast("bigint").alias("dup_token_cnt"),
        F.round(
            F.sum("span_tokens").cast("double") / F.col("n_tokens"), 6
        ).alias("dup_ratio"),
    )


@register(
    "pipeline_shard_manifest",
    oracle=f"""
    WITH sharded AS (
      SELECT {_d_h60("'shard|' || CAST(doc_id AS VARCHAR)")} % 16 AS shard,
             doc_id,
             len({D_TOKENS}) AS n_toks,
             OCTET_LENGTH(ENCODE(text)) AS n_bytes
      FROM documents
    )
    SELECT shard,
           COUNT(*) AS doc_cnt,
           CAST(SUM(n_toks) AS BIGINT) AS token_cnt,
           CAST(SUM(n_bytes) AS BIGINT) AS byte_cnt,
           CAST(SUM({_d_h60("CAST(doc_id AS VARCHAR)")} % 1048576) AS BIGINT)
             AS member_digest
    FROM sharded
    GROUP BY shard
    """,
)
def pipeline_shard_manifest(spark, sf_dir):
    """Deterministic output sharding + manifest — the last step
    before a training corpus ships: every doc is assigned to one of
    16 shards by a salted portable hash of its id (stable across
    runs, engines, and cluster sizes — re-sharding never silently
    reshuffles examples between epochs), and the manifest records
    per-shard doc/token/byte totals plus an order-insensitive member
    digest, the receipt a training job validates before reading.
    Writing the shards themselves is `df.repartition(16, shard_col)
    .write.partitionBy(shard)` at the ingest seam (the salted-table
    writer pattern, scans.py); the graded surface is the manifest.
    One map-side projection + a 16-key hash agg: manifesting 100 TB
    costs one scan, and shard balance is hash-uniform by
    construction (the balance audit is layout_hotspot_report's
    job)."""
    d = load_table(spark, sf_dir, "documents")
    sharded = d.select(
        (F.expr(_h60("concat('shard|', cast(doc_id AS string))")) % 16).alias(
            "shard"
        ),
        F.size(F.expr(TOKENS)).alias("n_toks"),
        F.octet_length(F.encode("text", "UTF-8")).alias("n_bytes"),
        (F.expr(_h60("cast(doc_id AS string)")) % 1048576).alias("dg"),
    )
    return sharded.groupBy("shard").agg(
        F.count("*").alias("doc_cnt"),
        F.sum("n_toks").cast("bigint").alias("token_cnt"),
        F.sum("n_bytes").cast("bigint").alias("byte_cnt"),
        F.sum("dg").cast("bigint").alias("member_digest"),
    )


@register(
    "sample_negative_pairs",
    oracle=f"""
    WITH ranked AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY hk, doc_id) AS r,
             COUNT(*) OVER () AS n
      FROM (SELECT doc_id, {_d_h60("'neg|' || CAST(doc_id AS VARCHAR)")} AS hk
            FROM documents)
    ),
    pairs AS (
      SELECT a.doc_id, j.j,
             (a.r - 1 + j.j * 97) % a.n + 1 AS neg_r
      FROM ranked a, (SELECT UNNEST(range(1, 5)) AS j) j
    )
    SELECT p.doc_id, CAST(p.j AS INT) AS j, b.doc_id AS neg_doc_id
    FROM pairs p JOIN ranked b ON b.r = p.neg_r
    WHERE b.doc_id <> p.doc_id
    """,
)
def sample_negative_pairs(spark, sf_dir):
    """Deterministic in-batch negative sampling for contrastive
    training: place every doc on a hash-shuffled ring (salted
    portable hash → pseudo-random but run/engine-stable order), and
    pair each doc with the docs 97·j positions around the ring
    (j = 1..4) — uniform, collision-free negatives with no RNG state
    to reproduce and no risk of the classic
    sample-until-you-hit-a-negative driver loop. The ring position
    is an exact global rank from the distributed kernel
    (operators/ranking.py — the oracle states it as the equivalent
    ROW_NUMBER); pairing is then ONE equi-join on the rank value.
    Scale shape: rank (range shuffle + pid window) + a 4-way explode
    + one hash join on an 8-byte key — linear end to end, and the
    stride keeps every join key unique per j so the join never
    hot-spots."""
    from .ranking import with_global_rank

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(_h60("concat('neg|', cast(doc_id AS string))")).alias("hk"),
    )
    ranked = with_global_rank(d, ["hk", "doc_id"], "r", total_col="n").select(
        "doc_id", "r", "n"
    )
    pairs = ranked.select(
        "doc_id",
        F.explode(F.sequence(F.lit(1), F.lit(4))).alias("j"),
        "r",
        "n",
    ).select(
        "doc_id",
        "j",
        ((F.col("r") - 1 + F.col("j") * 97) % F.col("n") + 1).alias("neg_r"),
    )
    b = ranked.select(F.col("r").alias("neg_r"), F.col("doc_id").alias("neg_doc_id"))
    return (
        pairs.join(b, "neg_r")
        .filter(F.col("neg_doc_id") != F.col("doc_id"))
        .select("doc_id", "j", "neg_doc_id")
    )


# ---------------------------------------------------------------------------
# sliding-window chunking (context-window prep)
# ---------------------------------------------------------------------------

_CHUNK_W = 32  # tokens per chunk (context-window proxy)
_CHUNK_S = 24  # stride (overlap = _CHUNK_W - _CHUNK_S = 8 tokens)


@register(
    "pipeline_chunk_sliding",
    oracle=f"""
    WITH t AS (SELECT doc_id, {D_TOKENS} AS toks FROM documents),
    base AS (
      SELECT doc_id, toks, len(toks) AS n,
             GREATEST(1, CAST(CEIL((len(toks) - {_CHUNK_W - _CHUNK_S}) / {_CHUNK_S}.0)
                              AS BIGINT)) AS nc
      FROM t),
    chunks AS (
      -- per-row unnest(range(0, nc)): unbounded like the Spark side's
      -- explode(sequence(...)) — a fixed range(0, 4096) cross join
      -- would silently truncate docs past ~98k tokens
      SELECT doc_id, toks, n, CAST(i AS INT) AS chunk_idx,
             CAST(i * {_CHUNK_S} AS INT) AS tok_start
      FROM (SELECT doc_id, toks, n, unnest(range(0, nc)) AS i FROM base))
    SELECT doc_id, chunk_idx, tok_start,
           CAST(len(list_slice(toks, tok_start + 1,
                               LEAST(tok_start + {_CHUNK_W}, n))) AS INT) AS n_tok,
           {_d_h60(f"array_to_string(list_slice(toks, tok_start + 1, LEAST(tok_start + {_CHUNK_W}, n)), ' ')")}
             AS chunk_digest
    FROM chunks
    """,
)
def pipeline_chunk_sliding(spark, sf_dir):
    """Sliding-window chunking — the context-window prep step between
    cleaning and packing: long documents are cut into 32-token
    chunks with stride 24 (8-token overlap so no sentence is
    orphaned at a boundary), the unit RAG indexes and long-context
    training loaders both consume. Chunk count per doc is the
    standard ceil((n - overlap) / stride) (min 1), so every token
    lands in >= 1 chunk and trailing chunks wholly contained in
    their predecessor are never emitted. Each chunk row carries its
    token offset, actual length (the tail chunk may be short), and a
    portable md5-h60 content digest pinning the exact token slice —
    the oracle restates the identical construction. Complementary to
    `pipeline_pack_sequences` (many short docs -> one fixed budget;
    this is one long doc -> many windows). Scale shape: map-only —
    tokenize, a bounded sequence() explode (fan-out ~ n/stride), a
    slice+digest projection; zero shuffles at any corpus size, and
    chunk rows stay co-partitioned with their source doc for free.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.expr(TOKENS).alias("toks")
    )
    base = d.select(
        "doc_id",
        "toks",
        F.greatest(
            F.lit(1),
            F.ceil((F.size("toks") - F.lit(_CHUNK_W - _CHUNK_S)) / F.lit(float(_CHUNK_S))),
        )
        .cast("int")
        .alias("nc"),
    )
    seg = f"slice(toks, tok_start + 1, {_CHUNK_W})"  # Spark slice clamps at the end
    return (
        base.select(
            "doc_id",
            "toks",
            F.explode(F.sequence(F.lit(0), F.col("nc") - 1)).alias("i"),
        )
        .select(
            "doc_id",
            "toks",
            F.col("i").cast("int").alias("chunk_idx"),
            (F.col("i") * _CHUNK_S).cast("int").alias("tok_start"),
        )
        .select(
            "doc_id",
            "chunk_idx",
            "tok_start",
            F.expr(f"size({seg})").cast("int").alias("n_tok"),
            # empty chunk (token-free doc): DuckDB's list_slice is
            # NULL there and the digest NULL-propagates (r9 text
            # drill) - mirror it instead of digesting ''
            F.when(
                F.expr(f"size({seg})") == 0, F.lit(None).cast("long")
            ).otherwise(F.expr(_h60(f"array_join({seg}, ' ')"))).alias("chunk_digest"),
        )
    )


# ---------------------------------------------------------------------------
# late-interaction (multi-vector) retrieval
# ---------------------------------------------------------------------------


@register(
    "sim_maxsim_multivector",
    oracle="""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT e.vec_id,
             ROUND(list_sum(list_transform(range(0, 8), i ->
               list_max(list_transform(range(0, 8), j ->
                 list_sum(list_transform(range(1, 9), t ->
                   CAST(e.embedding[j*8 + t] AS DOUBLE) *
                   CAST(q.qv[i*8 + t] AS DOUBLE)))))))
             , 6) AS maxsim
      FROM embeddings e, q
      WHERE e.vec_id <> 0)
    SELECT vec_id, maxsim FROM scored ORDER BY maxsim DESC, vec_id LIMIT 10
    """,
)
def sim_maxsim_multivector(spark, sf_dir):
    """Late-interaction retrieval (ColBERT-style MaxSim): instead of
    one vector per document, each side is a BAG of token vectors —
    here the fixture's 64-d embedding reinterpreted as 8 sub-vectors
    of 8 dims (the multi-vector layout a token-level encoder emits) —
    and relevance is sum over query sub-vectors of the best-matching
    document sub-vector: score = Σ_i max_j <q_i, d_j>. This ranks
    differently from single-vector cosine (fine-grained term matches
    survive pooling) and is the semantics behind modern multi-vector
    retrievers. Implementation: the query's sub-vectors ride a 1-row
    broadcast; scoring is ONE map-only projection of nested
    higher-order folds (sequential, fixed-order double math — the
    oracle restates the identical fold, so ROUND(6) hash-parity
    holds); top-k compiles to TakeOrderedAndProject. Scale shape:
    zero shuffles over the corpus, same as `sim_knn_query`; for
    genuine per-token bags, the same expression runs over
    array<array<float>> unchanged, and the IVF route
    (`sim_knn_ivf*`) prunes candidates first.
    """
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"), _norm(F.col("embedding")).alias("qn"))
    cand = e.filter(F.col("vec_id") != 0)
    maxsim = F.expr(
        "round(aggregate(sequence(0, 7), 0D, (acc, i) ->"
        " acc + array_max(transform(sequence(0, 7), j ->"
        " aggregate(sequence(1, 8), 0D, (a, t) ->"
        " a + cast(element_at(embedding, j*8 + t) AS double) *"
        " cast(element_at(qv, i*8 + t) AS double))))), 6)"
    )
    scored = cand.crossJoin(F.broadcast(q)).select(  # bcast: scalar
        "vec_id", maxsim.alias("maxsim")
    )
    return scored.orderBy(F.col("maxsim").desc(), "vec_id").limit(10)


@register(
    "pipeline_dataset_card",
    oracle=f"""
    WITH d AS (
      SELECT lang, n_chars,
             len({D_TOKENS}) AS n_toks,
             OCTET_LENGTH(ENCODE(text)) AS n_bytes,
             md5(lower(trim(text))) AS h
      FROM documents)
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS token_cnt,
           CAST(SUM(n_bytes) AS BIGINT) AS byte_cnt,
           CAST(COUNT(*) - COUNT(DISTINCT h) AS BIGINT) AS dup_docs,
           ROUND((COUNT(*) - COUNT(DISTINCT h)) * 1.0 / COUNT(*), 6) AS dup_rate,
           ROUND(MEDIAN(CAST(n_chars AS DOUBLE)), 6) AS p50_chars,
           ROUND(SUM(n_toks) * 1.0 / COUNT(*), 6) AS avg_tokens
    FROM d
    GROUP BY lang
    """,
)
def pipeline_dataset_card(spark, sf_dir):
    """Dataset-card manifest — the per-language numbers a corpus
    release publishes (and a training team checks before mixing):
    document/token/byte counts, the exact-duplicate burden
    (docs minus distinct normalized-content hashes, and its rate),
    median document length, and mean tokens per doc. One scan, one
    partial+final hash agg per language — the same one-pass shape as
    `pipeline_shard_manifest` but content-derived rather than
    shard-derived; every count is exact BIGINT, every rate one
    deterministic division (ROUND 6 only on the derived floats).
    The exact-dup hash matches `dedup_exact`'s normalization, so
    dup_docs here equals the rows that operator would drop,
    per language.
    """
    d = load_table(spark, sf_dir, "documents").select(
        "lang",
        "n_chars",
        F.expr(f"size({TOKENS})").alias("n_toks"),
        F.octet_length(F.encode("text", "UTF-8")).alias("n_bytes"),
        F.md5(F.lower(F.trim("text"))).alias("h"),
    )
    return d.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("token_cnt"),
        F.sum("n_bytes").cast("bigint").alias("byte_cnt"),
        (F.count("*") - F.countDistinct("h")).cast("bigint").alias("dup_docs"),
        F.round(
            (F.count("*") - F.countDistinct("h")) * 1.0 / F.count("*"), 6
        ).alias("dup_rate"),
        F.round(F.median(F.col("n_chars").cast("double")), 6).alias("p50_chars"),
        F.round(F.sum("n_toks") * 1.0 / F.count("*"), 6).alias("avg_tokens"),
    )


@register(
    "sim_ivf_recall_report",
    oracle=f"""
    WITH q AS (SELECT embedding AS qv, label AS qlabel
               FROM embeddings WHERE vec_id = 7),
    exact AS (
      SELECT e.vec_id FROM embeddings e, q, range(1, 65) r(i)
      WHERE e.vec_id <> 7
      GROUP BY e.vec_id
      ORDER BY ROUND({_d_cosine('e.embedding', 'q.qv')}, 6) DESC, e.vec_id
      LIMIT 5
    ),
    p1 AS (
      SELECT e.vec_id FROM embeddings e JOIN q ON e.label = q.qlabel,
             range(1, 65) r(i)
      WHERE e.vec_id <> 7
      GROUP BY e.vec_id
      ORDER BY ROUND({_d_cosine('e.embedding', 'q.qv')}, 6) DESC, e.vec_id
      LIMIT 5
    ),
    cent AS (
      SELECT label, r.i AS i, AVG(CAST(embedding[r.i] AS DOUBLE)) AS c
      FROM embeddings, range(1, 65) r(i) WHERE vec_id <> 7 GROUP BY label, r.i
    ),
    cscore AS (
      SELECT c.label,
             ROUND(SUM(c.c * CAST(q.qv[c.i] AS DOUBLE)) /
                   (SQRT(SUM(c.c * c.c)) *
                    SQRT(SUM(CAST(q.qv[c.i] AS DOUBLE) * CAST(q.qv[c.i] AS DOUBLE)))), 6)
               AS score
      FROM cent c, q GROUP BY c.label
    ),
    probe AS (SELECT label FROM cscore ORDER BY score DESC, label LIMIT 2),
    p2 AS (
      SELECT e.vec_id FROM embeddings e JOIN probe p ON e.label = p.label,
             q, range(1, 65) r(i)
      WHERE e.vec_id <> 7
      GROUP BY e.vec_id
      ORDER BY ROUND({_d_cosine('e.embedding', 'q.qv')}, 6) DESC, e.vec_id
      LIMIT 5
    )
    SELECT 5 AS k,
           (SELECT COUNT(*) FROM exact WHERE vec_id IN (SELECT vec_id FROM p1))
             AS hits_nprobe1,
           (SELECT COUNT(*) FROM exact WHERE vec_id IN (SELECT vec_id FROM p2))
             AS hits_nprobe2,
           ROUND((SELECT COUNT(*) FROM exact
                  WHERE vec_id IN (SELECT vec_id FROM p1)) / 5.0, 6)
             AS recall_nprobe1,
           ROUND((SELECT COUNT(*) FROM exact
                  WHERE vec_id IN (SELECT vec_id FROM p2)) / 5.0, 6)
             AS recall_nprobe2
    """,
)
def sim_ivf_recall_report(spark, sf_dir):
    """ANN index-quality evaluation — recall@5 of the IVF probe
    paths against exact brute force, the measurement every ANN
    deployment runs before trusting an index (and the number the
    nprobe knob is tuned against). Composes the existing kernels
    UNCHANGED: exact top-5 (map-only brute force), nprobe=1
    (`sim_knn_ivf`), nprobe=2 multiprobe (`sim_knn_ivf_multiprobe`),
    then two broadcast semi-joins count the overlap — so the report
    measures precisely the plans users run, not a reimplementation.
    Exact counts, one deterministic division each. Scale: the
    candidate sets are k rows (broadcast); the dominant cost is the
    exact pass, which is the point of the measurement — run it on a
    sampled query set offline, the way recall audits are actually
    scheduled.
    """
    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") == 7).select(F.col("embedding").alias("qv"), _norm(F.col("embedding")).alias("qn"))
    exact = (
        e.filter(F.col("vec_id") != 7)
        .crossJoin(F.broadcast(q))  # bcast: scalar
        .select(
            "vec_id",
            F.round(
                _dot(F.col("embedding"), F.col("qv"))
                / (_norm(F.col("embedding")) * F.col("qn")),
                6,
            ).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(5)
        .select("vec_id")
    )
    p1 = sim_knn_ivf(spark, sf_dir).select("vec_id")
    p2 = sim_knn_ivf_multiprobe(spark, sf_dir).select("vec_id")
    h1 = exact.join(F.broadcast(p1), "vec_id", "left_semi").agg(  # bcast: topk
        F.count("*").alias("hits_nprobe1")
    )
    h2 = exact.join(F.broadcast(p2), "vec_id", "left_semi").agg(  # bcast: topk
        F.count("*").alias("hits_nprobe2")
    )
    return (
        h1.crossJoin(h2)
        .select(
            F.lit(5).alias("k"),
            "hits_nprobe1",
            "hits_nprobe2",
            F.round(F.col("hits_nprobe1") / 5.0, 6).alias("recall_nprobe1"),
            F.round(F.col("hits_nprobe2") / 5.0, 6).alias("recall_nprobe2"),
        )
    )


_ETYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "sim_users_behavioral",
    oracle=f"""
    WITH prof AS (
      SELECT user_id,
             {", ".join(f"CAST(SUM(CASE WHEN event_type = '{t}' THEN 1 ELSE 0 END) AS BIGINT) AS c_{t}" for t in _ETYPES)},
             COUNT(*) AS n
      FROM events GROUP BY user_id),
    vec AS (
      SELECT user_id,
             {", ".join(f"c_{t} * 1.0 / n AS p_{t}" for t in _ETYPES)},
             CASE {" ".join(f"WHEN c_{t} >= GREATEST({', '.join('c_' + u for u in _ETYPES)}) THEN '{t}'" for t in _ETYPES)} END AS block
      FROM prof),
    pairs AS (
      SELECT a.user_id AS user_a, b.user_id AS user_b,
             ROUND(({" + ".join(f"a.p_{t} * b.p_{t}" for t in _ETYPES)}) /
                   (SQRT({" + ".join(f"a.p_{t} * a.p_{t}" for t in _ETYPES)}) *
                    SQRT({" + ".join(f"b.p_{t} * b.p_{t}" for t in _ETYPES)})), 6)
               AS cos_sim
      FROM vec a JOIN vec b
        ON a.block = b.block AND a.user_id < b.user_id)
    SELECT user_a, user_b, cos_sim
    FROM pairs ORDER BY cos_sim DESC, user_a, user_b LIMIT 10
    """,
)
def sim_users_behavioral(spark, sf_dir):
    """User-to-user behavioral similarity — lookalike retrieval
    WITHOUT a learned embedding: each user's event-type mix becomes
    a 5-dim proportion vector (exact integer counts, one division
    per dim), and cosine ranks the top-10 lookalike pairs within
    dominant-event-type blocks.

    Scale shape (restructured r8 — the ×32 census timed the original
    at 108 s): blocking on the dominant type yields only 5 blocks,
    so the original user×user self-join was O(|users|²/5) — the
    docstring's "never-all-pairs" claim was wrong; 2.3×10⁸ pairs at
    ×32 and quadratic forever. But the feature space is tiny: 48 000
    users collapse to ~1 500 DISTINCT proportion vectors (integer
    compositions of small per-user counts), and a user-pair's cosine
    depends only on its vector-pair. So: (1) aggregate users to the
    distinct-vector grid with multiplicities; (2) join the GRID to
    itself within blocks (grid²/5 — ~500× fewer pairs, and the grid
    grows sub-linearly in users); (3) find the cosine threshold
    where the cumulative user-pair count (m_a·m_b per inter pair,
    C(m,2) per identical-vector pair) first reaches k=10 — a window
    over the tiny cos-value grid; (4) expand ONLY vector-pairs at or
    above the threshold back to user pairs, bounded per pair by the
    11 smallest members of each side (any user pair touching a
    12th-or-later member is preceded by ≥ 10 pairs from smaller
    members, so it cannot reach the global top-10 — the two-phase
    partial-top-k argument); (5) exact TakeOrdered(10). The final
    cosine is recomputed on the expanded pairs with the ORIGINAL
    expression over the same doubles, so the oracle (unchanged
    all-pairs SQL) still grades bit-exact equality."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    prof = ev.groupBy("user_id").agg(
        *[
            F.sum(F.when(F.col("event_type") == t, 1).otherwise(0))
            .cast("bigint")
            .alias(f"c_{t}")
            for t in _ETYPES
        ],
        F.count("*").alias("n"),
    )
    mx = F.greatest(*[F.col(f"c_{t}") for t in _ETYPES])
    block = F.lit(_ETYPES[-1])
    for t in reversed(_ETYPES):
        block = F.when(F.col(f"c_{t}") >= mx, t).otherwise(block)
    vec = prof.select(
        "user_id",
        *[(F.col(f"c_{t}") * 1.0 / F.col("n")).alias(f"p_{t}") for t in _ETYPES],
        block.alias("block"),
    )
    v = vec.select(
        "user_id",
        "block",
        F.struct(*[F.col(f"p_{t}") for t in _ETYPES]).alias("vk"),
    ).transform(_pin)

    # 11 smallest members per distinct vector — two-phase local top-k
    # so no single task ever sorts one vector's full member list.
    cand = v.withColumn("_pid", F.spark_partition_id())
    w_loc = Window.partitionBy("vk", "_pid").orderBy("user_id")
    local = cand.withColumn("_lrn", F.row_number().over(w_loc)).filter(
        F.col("_lrn") <= 11
    )
    w_glob = Window.partitionBy("vk").orderBy("user_id")
    m11 = (
        local.withColumn("_rn", F.row_number().over(w_glob))
        .filter(F.col("_rn") <= 11)
        .select("vk", "block", "user_id")
    )

    grid = v.groupBy("vk", "block").agg(F.count(F.lit(1)).alias("m"))

    def _cos(pa, pb):
        dot = sum(
            (pa(t) * pb(t) for t in _ETYPES), F.lit(0.0)
        )
        na = F.sqrt(sum((pa(t) * pa(t) for t in _ETYPES), F.lit(0.0)))
        nb = F.sqrt(sum((pb(t) * pb(t) for t in _ETYPES), F.lit(0.0)))
        return F.round(dot / (na * nb), 6)

    ga, gb = grid.alias("ga"), grid.alias("gb")
    inter = ga.join(
        gb,
        (F.col("ga.block") == F.col("gb.block"))
        & (F.col("ga.vk") < F.col("gb.vk")),
    ).select(
        F.col("ga.vk").alias("vka"),
        F.col("gb.vk").alias("vkb"),
        _cos(
            lambda t: F.col("ga.vk").getField(f"p_{t}"),
            lambda t: F.col("gb.vk").getField(f"p_{t}"),
        ).alias("cos_sim"),
        (F.col("ga.m") * F.col("gb.m")).cast("bigint").alias("npairs"),
    )
    intra = grid.filter(F.col("m") >= 2).select(
        F.col("vk").alias("vka"),
        F.col("vk").alias("vkb"),
        _cos(
            lambda t: F.col("vk").getField(f"p_{t}"),
            lambda t: F.col("vk").getField(f"p_{t}"),
        ).alias("cos_sim"),
        (F.col("m") * (F.col("m") - 1) / 2).cast("bigint").alias("npairs"),
    )
    vp = inter.unionAll(intra).transform(_pin)

    # cosine threshold where cumulative candidate-pair count reaches
    # k=10: a running sum over the tiny distinct-cos grid (aggregate-
    # reduced, a few thousand rows at most).
    cos_grid = vp.groupBy("cos_sim").agg(F.sum("npairs").alias("np"))
    w_cum = Window.orderBy(F.col("cos_sim").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    thr = (
        cos_grid.withColumn("cum", F.sum("np").over(w_cum))
        .filter(F.col("cum") >= 10)
        .agg(F.max("cos_sim").alias("thr"))
    )
    kept = vp.crossJoin(F.broadcast(thr)).filter(  # bcast: scalar
        (F.col("thr").isNull()) | (F.col("cos_sim") >= F.col("thr"))
    )

    ma, mb = m11.alias("ma"), m11.alias("mb")
    exp_inter = (
        kept.filter(F.col("vka") != F.col("vkb"))
        .join(ma, F.col("ma.vk") == F.col("vka"))
        .join(mb, F.col("mb.vk") == F.col("vkb"))
        .select(
            F.least(F.col("ma.user_id"), F.col("mb.user_id")).alias("user_a"),
            F.greatest(F.col("ma.user_id"), F.col("mb.user_id")).alias(
                "user_b"
            ),
            _cos(
                lambda t: F.col("ma.vk").getField(f"p_{t}"),
                lambda t: F.col("mb.vk").getField(f"p_{t}"),
            ).alias("cos_sim"),
        )
    )
    exp_intra = (
        kept.filter(F.col("vka") == F.col("vkb"))
        .join(ma, F.col("ma.vk") == F.col("vka"))
        .join(
            mb,
            (F.col("mb.vk") == F.col("vkb"))
            & (F.col("ma.user_id") < F.col("mb.user_id")),
        )
        .select(
            F.col("ma.user_id").alias("user_a"),
            F.col("mb.user_id").alias("user_b"),
            _cos(
                lambda t: F.col("ma.vk").getField(f"p_{t}"),
                lambda t: F.col("mb.vk").getField(f"p_{t}"),
            ).alias("cos_sim"),
        )
    )
    return (
        exp_inter.unionAll(exp_intra)
        .orderBy(F.col("cos_sim").desc(), "user_a", "user_b")
        .limit(10)
    )


@register(
    "pipeline_preference_pairs",
    oracle=f"""
    WITH q AS MATERIALIZED (
      SELECT doc_id, lang,
             {d_round_ie(f"0.5 * (len(list_distinct({D_TOKENS})) * 1.0 / len({D_TOKENS})) + 0.5 * (1 - len(list_filter({D_TOKENS}, w -> w IN ('a', 'the', 'of', 'and', 'to', 'in'))) * 1.0 / len({D_TOKENS}))", 6)} AS quality
      FROM documents WHERE len({D_TOKENS}) > 0),
    ranked AS (
      SELECT doc_id, lang, quality,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY quality, doc_id) AS r,
             COUNT(*) OVER (PARTITION BY lang) AS n
      FROM q)
    SELECT a.lang,
           b.doc_id AS chosen_doc_id,
           a.doc_id AS rejected_doc_id,
           {d_round_ie("b.quality - a.quality", 6)} AS margin
    FROM ranked a
    JOIN ranked b ON a.lang = b.lang AND b.r = a.n + 1 - a.r
    WHERE a.r <= a.n / 2
    """,
)
def pipeline_preference_pairs(spark, sf_dir):
    """Preference-pair construction — the data-prep step behind
    RLHF/DPO training: within each language block, documents are
    ranked by the C4-style quality heuristic (`text_quality_score`'s
    exact expression) and the best is paired against the worst,
    second-best against second-worst, and so on — the standard
    max-margin pairing that gives a preference dataset its spread —
    emitting (chosen, rejected, quality margin) rows. Determinism:
    quality is ROUND(6)ed per row before ranking and doc_id breaks
    ties, so the rank — and therefore every pair — is
    engine/partition-stable. Scale (restructured in the r7 funnel
    sweep): the per-block rank previously ran a ``PARTITION BY
    lang`` window over every document — |langs| tasks sort the
    corpus. It now rides the distributed rank kernel
    (operators/ranking.py) over the total order (lang, quality,
    doc_id), with per-language rank offsets and block sizes from a
    |langs|-row broadcast; then ONE equi-join on (lang, mirrored
    rank) — no pairwise scoring, pairs fall out of rank arithmetic,
    every stage parallel. Odd blocks leave their median doc
    unpaired, as the pairing should."""
    from .ranking import with_global_rank

    d = load_table(spark, sf_dir, "documents")
    # token-free docs are EXCLUDED, not NULL-scored: a NULL quality
    # would rank under Spark's NULLS FIRST but DuckDB's NULLS LAST,
    # and a degenerate doc has no business in a preference pair
    # (r9 text drill)
    t = d.select("doc_id", "lang", F.expr(TOKENS).alias("toks")).filter(
        F.size("toks") > 0
    )
    n_t = F.size("toks").cast("double")
    uniq = F.size(F.array_distinct("toks")).cast("double") / n_t
    stop = (
        F.size(F.expr(f"filter(toks, w -> w IN {_STOPWORDS})")).cast("double") / n_t
    )
    q = t.select(
        "doc_id",
        "lang",
        round_ie(0.5 * uniq + 0.5 * (1 - stop), 6).alias("quality"),
    )
    g = with_global_rank(q, ["lang", "quality", "doc_id"], "_grk")
    offs = g.groupBy("lang").agg(
        (F.min("_grk") - 1).alias("_off"), F.count("*").alias("_n")
    )
    ranked = g.join(F.broadcast(offs), "lang").select(  # bcast: enum
        "doc_id",
        "lang",
        "quality",
        (F.col("_grk") - F.col("_off")).cast("int").alias("r"),
        F.col("_n").cast("bigint").alias("n"),
    )
    a = ranked.alias("a")
    b = ranked.alias("b")
    return (
        a.filter(F.col("a.r") <= F.col("a.n") / 2)
        .join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("b.r") == F.col("a.n") + 1 - F.col("a.r")),
        )
        .select(
            F.col("a.lang").alias("lang"),
            F.col("b.doc_id").alias("chosen_doc_id"),
            F.col("a.doc_id").alias("rejected_doc_id"),
            round_ie(F.col("b.quality") - F.col("a.quality"), 6).alias("margin"),
        )
    )


# ---------------------------------------------------------------------------
# winnowing fingerprint (rolling-hash document fingerprinting)
# ---------------------------------------------------------------------------

_WIN_K = 16      # k-gram length (chars, ~2.5 words: span-scale matches)
_WIN_W = 4       # winnowing window (hashes)
_WIN_B = 257     # rolling-hash base
_WIN_M = 2147483647  # modulus (2^31 - 1)


def _rk_hash(codes: str, pos: str, spark_side: bool = True) -> str:
    """Unrolled Rabin-Karp k-gram hash at 1-based position ``pos``
    over a pre-staged char-code array ``codes``: h = fold(c ->
    (h*B + c) mod M) over k codes — stepwise mod keeps every
    intermediate < M*B (int64-safe). The VALUES are the rolling-hash
    definition; engines recompute per position (k multiply-adds on
    staged codes) instead of rolling, which changes nothing graded.
    Staging the codes once matters: inlining ascii(substring(...))
    into every term re-scans the string k times per position
    (measured 8x slower — the SHINGLES_FROM_TOKS lesson again)."""
    h = "CAST(0 AS BIGINT)"
    for j in range(_WIN_K):
        idx = f"element_at({codes}, {pos} + {j})" if spark_side else f"{codes}[{pos} + {j}]"
        h = f"(({h}) * {_WIN_B} + {idx}) % {_WIN_M}"
    return h


@register(
    "text_winnow_fingerprint",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lower(text) AS s, length(lower(text)) AS n FROM documents
    ),
    cs AS (
      SELECT doc_id, n,
             list_transform(range(1, n + 1), i -> ascii(substring(s, i, 1)))
               AS codes
      FROM t WHERE n >= {_WIN_K}
    ),
    hs AS (
      SELECT doc_id,
             list_transform(range(1, n - {_WIN_K} + 2),
                            i -> {_rk_hash('codes', 'i', False)}) AS hashes
      FROM cs
    ),
    sel AS (
      SELECT doc_id,
             CAST(len(hashes) AS BIGINT) AS n_grams,
             list_sort(list_distinct(list_transform(
               range(1, len(hashes) - {_WIN_W} + 2),
               w -> list_min(hashes[w:w + {_WIN_W} - 1])))) AS picks
      FROM hs WHERE len(hashes) >= {_WIN_W}
    )
    SELECT doc_id, n_grams,
           CAST(len(picks) AS BIGINT) AS n_selected,
           {_d_h60("array_to_string(picks, ',')")} AS fp_digest
    FROM sel
    """,
)
def text_winnow_fingerprint(spark, sf_dir):
    """WINNOWING document fingerprint (Schleimer/Wilkerson/Aiken,
    SIGMOD 2003 — the MOSS algorithm): a Rabin-Karp rolling hash
    over all character 16-grams, then each 4-hash window contributes
    its minimum — the selection that guarantees any sufficiently
    long match between two documents shares a fingerprint, with
    density 2/(w+1) instead of keeping every gram. This is the
    mandated rolling-hash fingerprinting in its canonical form
    (`text_fingerprint` is the cheaper order-free token sketch); the
    fingerprint set is pinned by an order-insensitive portable
    digest of the sorted selected hashes, and every hash is exact
    stepwise-mod int64 arithmetic identical in both engines.

    Engine split, per the measured python-block-vs-expression rule
    (BENCH.md): the per-position hash chain as a higher-order
    expression costs ~2M interpreted lambda evals per 500 docs
    (11 s — and a staged char-code array gets re-inlined by
    CollapseProject into O(n^2 k)); the Arrow kernel below runs the
    same integer recurrence as 8 vectorized numpy ops per doc.
    Map-only, zero shuffles; the DuckDB oracle states the identical
    arithmetic relationally.
    """
    import numpy as np

    k, w, b, m = _WIN_K, _WIN_W, _WIN_B, _WIN_M
    import hashlib

    from pyspark.sql.types import (
        LongType,
        StructField as _SF,
        StructType as _ST,
    )

    schema = _ST(
        [
            _SF("doc_id", LongType()),
            _SF("n_grams", LongType()),
            _SF("n_selected", LongType()),
            _SF("fp_digest", LongType()),
        ]
    )

    def winnow(batches):
        # self-contained closure (see udfs.py NOTE on worker sys.path)
        for pdf in batches:
            ids, ng, ns, dg = [], [], [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                sl = text.lower()
                n = len(sl)
                if n < k:
                    continue
                # unicode CODEPOINTS, matching DuckDB ascii(substring)
                codes = np.frombuffer(sl.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
                h = np.zeros(n - k + 1, dtype=np.int64)
                for j in range(k):
                    h = (h * b + codes[j : n - k + 1 + j]) % m
                if len(h) < w:
                    continue
                mins = h[: len(h) - w + 1].copy()
                for j in range(1, w):
                    np.minimum(mins, h[j : len(h) - w + 1 + j], out=mins)
                picks = np.unique(mins)
                ids.append(doc_id)
                ng.append(len(h))
                ns.append(len(picks))
                dg.append(
                    int(
                        hashlib.md5(
                            ",".join(str(int(x)) for x in picks).encode("utf-8")
                        ).hexdigest()[:15],
                        16,
                    )
                )
            import pandas as pd

            yield pd.DataFrame(
                {"doc_id": ids, "n_grams": ng, "n_selected": ns, "fp_digest": dg}
            ).astype(
                {"doc_id": "int64", "n_grams": "int64", "n_selected": "int64", "fp_digest": "int64"}
            )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return d.mapInPandas(winnow, schema)


@register(
    "dedup_winnow_pairs",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lower(text) AS s, length(lower(text)) AS n FROM documents
    ),
    cs AS (
      SELECT doc_id, n,
             list_transform(range(1, n + 1), i -> ascii(substring(s, i, 1)))
               AS codes
      FROM t WHERE n >= {_WIN_K}
    ),
    hs AS (
      SELECT doc_id,
             list_transform(range(1, n - {_WIN_K} + 2),
                            i -> {_rk_hash('codes', 'i', False)}) AS hashes
      FROM cs
    ),
    picks AS (
      SELECT doc_id,
             UNNEST(list_distinct(list_transform(
               range(1, len(hashes) - {_WIN_W} + 2),
               w -> list_min(hashes[w:w + {_WIN_W} - 1])))) AS fp
      FROM hs WHERE len(hashes) >= {_WIN_W}
    ),
    buckets AS (
      SELECT fp, COUNT(*) AS sz FROM picks GROUP BY fp
    ),
    pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS shared
      FROM picks a
      JOIN picks b ON a.fp = b.fp AND a.doc_id < b.doc_id
      JOIN buckets s ON s.fp = a.fp AND s.sz BETWEEN 2 AND 16
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT doc_a, doc_b, CAST(shared AS BIGINT) AS shared_fps
    FROM pairs WHERE shared >= 4
    """,
)
def dedup_winnow_pairs(spark, sf_dir):
    """MOSS-style near-dup detection over the winnowing fingerprints
    — what the fingerprint exists FOR: two documents sharing >= 4
    selected fingerprints share (with winnowing's guarantee) matching
    character runs, so the candidate join is a groupBy on fingerprint
    values — never all-pairs — with the same bucket-size cap (16) the
    MinHash/SimHash banding uses against degenerate boilerplate
    fingerprints. Completes the dedup family's sixth modality:
    exact hash, MinHash-Jaccard, SimHash-Hamming, n-gram Jaccard,
    embedding cosine, and now raw character-run overlap — the one
    that catches plagiarized SPANS regardless of tokenization.
    Fingerprints come from the identical numpy rolling-hash kernel
    as `text_winnow_fingerprint` (emitting pick ROWS here); the
    oracle restates the full pipeline relationally. One shuffle on
    fingerprint value + one pair agg, both equality-keyed.
    """
    import hashlib  # noqa: F401  (parity with sibling kernel imports)

    import numpy as np

    k, w, b, m = _WIN_K, _WIN_W, _WIN_B, _WIN_M

    from pyspark.sql.types import LongType, StructField as _SF, StructType as _ST

    schema = _ST([_SF("doc_id", LongType()), _SF("fp", LongType())])

    def emit_picks(batches):
        import pandas as pd

        for pdf in batches:
            ids, fps = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                sl = text.lower()
                n = len(sl)
                if n < k:
                    continue
                codes = np.frombuffer(sl.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
                h = np.zeros(n - k + 1, dtype=np.int64)
                for j in range(k):
                    h = (h * b + codes[j : n - k + 1 + j]) % m
                if len(h) < w:
                    continue
                mins = h[: len(h) - w + 1].copy()
                for j in range(1, w):
                    np.minimum(mins, h[j : len(h) - w + 1 + j], out=mins)
                for x in np.unique(mins):
                    ids.append(doc_id)
                    fps.append(int(x))
            yield pd.DataFrame({"doc_id": ids, "fp": fps}).astype(
                {"doc_id": "int64", "fp": "int64"}
            )

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # the picks frame feeds three consumers (bucket sizes + both pair
    # sides); DISK_ONLY-pin it so the Arrow kernel runs once, not per
    # consumer (the graph_triangle_count ReuseExchange lesson) and the
    # corpus-scale picks never sit deserialized on the heap (the x128
    # broadcast-starvation lesson, io.pin)
    picks = d.mapInPandas(emit_picks, schema).transform(_pin)
    buckets = picks.groupBy("fp").agg(F.count("*").alias("sz"))
    ok_fps = buckets.filter((F.col("sz") >= 2) & (F.col("sz") <= 16)).select("fp")
    # ok_fps and the pair sides are fingerprint-keyed -> they grow
    # with the corpus, so these joins must NEVER broadcast. r10 left
    # them unhinted on the theory that AQE's runtime size check makes
    # the safe call; the r12 bounded x128 census disproved that: AQE
    # measured ok_fps under the 64 MB threshold and the deserialized
    # broadcast build OOMed a fresh 8 GiB driver ("Not enough memory
    # to build and broadcast", SCALE.md r12). hint("merge") pins the
    # sort-merge path; both joins then co-partition on fp with the
    # buckets groupBy, and the corpus-scale frames stay off the
    # driver at every scale.
    # r12: expand pairs INSIDE each admitted bucket (the minhash
    # members pattern) instead of a fingerprint-keyed self-join. The
    # old shape consumed the pinned picks THREE more times (the
    # admission join ran once per self-join side) and sort-merged the
    # corpus-scale picks twice; this shape reads the pin once for the
    # collect, expands ≤C(16,2) pairs per bucket in-row, and the only
    # remaining exchange is the tiny pair agg. The count-first
    # discipline is unchanged: ok_fps admits buckets (2..16) BEFORE
    # any membership collects, so the collect buffer is bounded at 16
    # ids by construction.
    members = (
        picks.join(ok_fps.hint("merge"), "fp", "left_semi")
        .groupBy("fp")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("members"))
    )
    return (
        members.select(
            F.explode(
                F.expr(
                    "flatten(transform(members, (m1, i) ->"
                    " transform(slice(members, i + 2, size(members) - i - 1), m2 ->"
                    " named_struct('doc_a', m1, 'doc_b', m2))))"
                )
            ).alias("p")
        )
        .groupBy(F.col("p.doc_a").alias("doc_a"), F.col("p.doc_b").alias("doc_b"))
        .agg(F.count("*").cast("bigint").alias("shared_fps"))
        .filter(F.col("shared_fps") >= 4)
    )


# ---------------------------------------------------------------------------
# round-5 additions: normalized dedup, code detection, split planning,
# modality mix, centroid classification
# ---------------------------------------------------------------------------

# Shared normalization for fuzzy-exact dedup: lowercase, strip
# non-alphanumerics to spaces, collapse runs, trim. This is the
# standard "normalize then exact-hash" production dedup pass (catches
# case/punctuation/whitespace variants that byte-exact dedup misses,
# at exact-dedup cost — no pairwise stage at all).
_D_NORM_TEXT = (
    "TRIM(REGEXP_REPLACE(REGEXP_REPLACE(LOWER(text), '[^a-z0-9 ]', ' ', 'g'),"
    " ' +', ' ', 'g'))"
)


@register(
    "dedup_text_normalized",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id,
             '>> ' || UPPER(text) || ' !!' AS text
      FROM documents WHERE doc_id < 100
    ),
    norm AS (
      SELECT doc_id, {_d_h60(_D_NORM_TEXT)} AS fp FROM corpus
    )
    SELECT fp, CAST(COUNT(*) AS BIGINT) AS n_dups,
           MIN(doc_id) AS keep_doc_id,
           MAX(doc_id) AS max_doc_id,
           CAST(SUM(doc_id) AS BIGINT) AS sum_doc_ids
    FROM norm GROUP BY fp HAVING COUNT(*) > 1
    """,
)
def dedup_text_normalized(spark, sf_dir):
    """Normalized-exact dedup: canonicalize text (lowercase, strip
    punctuation, collapse whitespace) and group by a 60-bit portable
    digest of the canonical form — the cheap production pass that
    catches case/punct/whitespace near-dups before any pairwise
    similarity stage runs. Scale shape identical to `dedup_exact`:
    the shuffle carries 8-byte digests, never text; map-side combine
    applies; survivors = keep_doc_id per group. Groups of 1 are
    dropped (nothing to dedup). Group membership is witnessed by
    scalar aggregates (count, min, max, sum of members) instead of a
    collected id list: the driver's row canonicalizer sorts every
    output column and cannot order array cells (the exact r5
    multimodal_feature_extract failure class), and (n, min, max, sum)
    pins the member set just as hard for the fixture's group sizes."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    # Fixtures carry no raw duplicates, so the merge behavior is
    # exercised against in-query case/punctuation variants of the
    # first 100 docs — the exact class this pass exists to catch.
    variants = d.filter(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.lit(">> "), F.upper("text"), F.lit(" !!")).alias("text"),
    )
    corpus = d.unionAll(variants)
    # Single-pass twin of the oracle's two-pass normalizer (r13, guide
    # §1.2): after pass 1 every non-alnum char IS a space, so pass 2's
    # space-collapse acts exactly on the runs of non-alnum chars in
    # the input — one "[^a-z0-9]+" → " " pass produces the identical
    # string in half the regex work (equivalence pinned in
    # tests/test_units.py::test_norm_text_single_pass_equivalent).
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " "))
    return (
        corpus.select("doc_id", norm.alias("norm"))
        .select("doc_id", F.expr(_h60("norm")).alias("fp"))
        .groupBy("fp")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_dups"),
            F.min("doc_id").alias("keep_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
            F.sum("doc_id").cast("bigint").alias("sum_doc_ids"),
        )
        .filter(F.col("n_dups") > 1)
    )


@register(
    "text_code_detect",
    oracle=r"""
    SELECT doc_id,
           CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[{}();=<>\[\]]', '', 'g'))
                AS BIGINT) AS sym_count,
           CAST(LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[0-9]', '', 'g'))
                AS BIGINT) AS digit_count,
           CAST(CASE WHEN LENGTH(text) = 0 THEN 0 ELSE
             FLOOR((LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[{}();=<>\[\]]', '', 'g')))
                   * 1000.0 / LENGTH(text)) END AS BIGINT) AS sym_per_mille,
           (CASE WHEN LENGTH(text) = 0 THEN 0 ELSE
             FLOOR((LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[{}();=<>\[\]]', '', 'g')))
                   * 1000.0 / LENGTH(text)) END) >= 15 AS looks_like_code
    FROM documents WHERE doc_id < 300
    """,
)
def text_code_detect(spark, sf_dir):
    """Code-vs-prose detector — the corpus-routing gate every LLM
    data pipeline runs (code goes to a code mix, prose to a text
    mix). Heuristic: density of code-symbol characters per mille of
    text, on EXACT integer counts (strip-and-diff length arithmetic,
    one FLOOR of an identical double expression) so the verdict can
    never straddle an engine rounding boundary. Map-only, codegen'd,
    no shuffle; the thresholds are the tunable."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    sym = F.length("text") - F.length(F.regexp_replace("text", r"[{}();=<>\[\]]", ""))
    dig = F.length("text") - F.length(F.regexp_replace("text", "[0-9]", ""))
    per_mille = F.when(F.length("text") == 0, F.lit(0)).otherwise(
        F.floor(sym * 1000.0 / F.length("text"))
    )
    return d.select(
        "doc_id",
        sym.cast("bigint").alias("sym_count"),
        dig.cast("bigint").alias("digit_count"),
        per_mille.cast("bigint").alias("sym_per_mille"),
        (per_mille >= 15).alias("looks_like_code"),
    )


@register(
    "sample_train_test_split",
    oracle=f"""
    WITH tagged AS (
      SELECT doc_id, n_chars,
             CASE WHEN {_d_h60("'split1|' || CAST(doc_id AS VARCHAR)")} % 10 < 8
                  THEN 'train'
                  WHEN {_d_h60("'split1|' || CAST(doc_id AS VARCHAR)")} % 10 = 8
                  THEN 'val' ELSE 'test' END AS split
      FROM documents
    )
    SELECT split, CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           MIN(doc_id) AS min_doc_id, MAX(doc_id) AS max_doc_id
    FROM tagged GROUP BY split
    """,
)
def sample_train_test_split(spark, sf_dir):
    """Deterministic 80/10/10 train/val/test split by salted portable
    hash of the document id — the reproducibility contract a training
    pipeline needs: the same doc lands in the same split on every
    run, every cluster size, and every engine (no seed, no
    TABLESAMPLE). Split sizes and per-split stats come back as the
    audit artifact. Disjointness and stability are structural (a
    pure function of doc_id). Map-side tag + 3-group agg; the
    downstream writer would partitionBy(split)."""
    d = load_table(spark, sf_dir, "documents")
    h = F.expr(_h60("concat('split1|', cast(doc_id AS string))")) % 10
    split = (
        F.when(h < 8, F.lit("train")).when(h == 8, F.lit("val")).otherwise(F.lit("test"))
    )
    return (
        d.select(split.alias("split"), "doc_id", "n_chars")
        .groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
        )
    )


@register(
    "multimodal_modality_mix_report",
    oracle="""
    WITH items AS (
      SELECT doc_id, lang,
             CASE doc_id % 4 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
                             WHEN 2 THEN 'video' ELSE 'text' END AS modality,
             OCTET_LENGTH(ENCODE(text)) AS n_bytes
      FROM documents
    )
    SELECT modality, CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           ROUND(quantile_cont(CAST(n_bytes AS DOUBLE), 0.5), 6) AS p50_bytes,
           ROUND(quantile_cont(CAST(n_bytes AS DOUBLE), 0.9), 6) AS p90_bytes
    FROM items GROUP BY modality
    """,
)
def multimodal_modality_mix_report(spark, sf_dir):
    """Dataset-card modality mix: per-modality item counts, byte
    volumes, language spread, and byte-size percentiles — the
    at-a-glance table a multimodal corpus ships with. Payload bytes
    stand in for the opaque image/audio/video BLOBs (same stub
    convention as `multimodal_decode_meta`; the modality tag comes
    from the id in this sandbox, from the ingest manifest in a real
    deployment). One scan, 4-group agg; exact interpolated
    percentiles (Spark `percentile` == DuckDB `quantile_cont`) —
    at 100 TB swap in percentile_approx, same contract as
    layout_split_points."""
    d = load_table(spark, sf_dir, "documents")
    modality = (
        F.when(F.col("doc_id") % 4 == 0, "image")
        .when(F.col("doc_id") % 4 == 1, "audio")
        .when(F.col("doc_id") % 4 == 2, "video")
        .otherwise("text")
    )
    return (
        d.select(
            modality.alias("modality"),
            "lang",
            F.octet_length(F.encode("text", "utf-8")).alias("n_bytes"),
        )
        .groupBy("modality")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            F.sum("n_bytes").cast("bigint").alias("total_bytes"),
            F.countDistinct("lang").cast("bigint").alias("n_langs"),
            F.round(F.percentile(F.col("n_bytes").cast("double"), F.lit(0.5)), 6).alias(
                "p50_bytes"
            ),
            F.round(F.percentile(F.col("n_bytes").cast("double"), F.lit(0.9)), 6).alias(
                "p90_bytes"
            ),
        )
    )


@register(
    "sim_centroid_classify",
    oracle=f"""
    WITH cent AS (
      SELECT label, i, AVG(CAST(embedding[i] AS DOUBLE)) AS c
      FROM embeddings, range(1, 65) r(i)
      GROUP BY label, i
    ),
    scored AS (
      SELECT e.vec_id, e.label AS true_label, c.label AS cand_label,
             ROUND(SUM(c.c * CAST(e.embedding[c.i] AS DOUBLE)) /
                   (SQRT(SUM(c.c * c.c)) *
                    SQRT(SUM(CAST(e.embedding[c.i] AS DOUBLE) *
                             CAST(e.embedding[c.i] AS DOUBLE)))), 6) AS cos_c
      FROM embeddings e CROSS JOIN cent c
      GROUP BY e.vec_id, e.label, c.label
    ),
    pred AS (
      SELECT vec_id, true_label, cand_label AS pred_label,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY cos_c DESC, cand_label) AS rk
      FROM scored
    )
    SELECT true_label, pred_label, CAST(COUNT(*) AS BIGINT) AS n
    FROM pred WHERE rk = 1
    GROUP BY true_label, pred_label
    """,
)
def sim_centroid_classify(spark, sf_dir):
    """Nearest-centroid classification + confusion matrix — the
    in-engine quality readout for embedding clusters (how separable
    are the labels a mix/dedup pipeline keys on?). Centroids are one
    exact per-(label, dim) aggregate (the semdedup kernel); scoring
    (r13) is one native matmul per Arrow batch against the collected
    nlist x 64 centroid matrix, with the exact rounded argmax
    semantics preserved by an exact-fold rescore of near-tie band
    candidates only (see the inline derivation); the confusion
    matrix is a tiny label x label agg. At 100 TB: one scan, one
    centroid broadcast, tie-rescore bytes proportional to actual
    near-ties — no vector ever shuffles."""
    e = load_table(spark, sf_dir, "embeddings")
    dims = e.select("label", F.posexplode("embedding").alias("pos", "val"))
    cent = (
        dims.groupBy("label", "pos")
        .agg(F.avg(F.col("val").cast("double")).alias("c"))
        .groupBy("label")
        .agg(
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "c"))),
                lambda s: s["c"],
            ).alias("cvec")
        )
        .select(F.col("label").alias("cand_label"), "cvec")
    )
    # r13 BLAS rework (VERDICT r12 item 4, guide §4.2): the r12 shape
    # (norm hoists + map-side argmax) still paid |V| x nlist
    # INTERPRETED 64-element folds — nlist grows with label count, so
    # this was the census rank-4 row (151 s at x128). The scoring now
    # runs as one native matmul per Arrow batch; ONLY the argmax
    # decision needs exact semantics, and a candidate whose BLAS
    # cosine sits more than BAND below the batch max provably cannot
    # win the exact rounded argmax (floor(x*1e6+0.5) is monotone —
    # a true gap > 1e-6 survives rounding — and the BLAS double is
    # within ~1e-12 of the JVM fold: a 64-term summation-order
    # bound). Vectors whose top-2 band is ambiguous (or any
    # non-finite score: zero norms) fall back to the EXACT r12 fold
    # + max(struct) argmax on just their band candidates, with the
    # raw vector carried out through Arrow (bytes proportional to
    # ties, not |V| — the _fold_cos6 rescore pattern). The centroid
    # table is collected once (|labels| x 64 doubles — the same
    # driver footprint the old broadcast of `cent` built) and the SAME
    # realization feeds both paths via a local relation, so the
    # decided/tie split and the tie rescore read one set of
    # centroids.
    import numpy as np
    import pandas as pd

    crows = sorted(cent.collect(), key=lambda r: r["cand_label"])
    # embeddings are 64 wide by the fixture contract; the explicit
    # width keeps an empty centroid table a (0, 64) matrix
    C = np.array([list(r["cvec"]) for r in crows], dtype="float64").reshape(
        len(crows), 64
    )
    CLAB = np.array([r["cand_label"] for r in crows], dtype="int64")
    NC = np.linalg.norm(C, axis=1)
    BAND = 2e-6

    out_schema = (
        "vec_id bigint, true_label int, cand_label int, "
        "pred_label int, embedding array<float>"
    )

    def classify(batches):
        for pdf in batches:
            if len(pdf) == 0 or len(CLAB) == 0:
                continue
            emb = pdf["embedding"].to_numpy()
            E = np.stack(emb).astype("float64")
            nv = np.linalg.norm(E, axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                S = (E @ C.T) / (nv[:, None] * NC[None, :])
            finite = np.isfinite(S).all(axis=1)
            smax = S.max(axis=1, where=np.isfinite(S), initial=-np.inf)
            band = S >= (smax[:, None] - BAND)
            decided = finite & (band.sum(axis=1) == 1)
            pred = CLAB[np.argmax(S, axis=1)]
            ndec = int(decided.sum())
            dec = pd.DataFrame(
                {
                    "vec_id": pd.Series(
                        pdf["vec_id"].to_numpy()[decided], dtype="int64"
                    ),
                    "true_label": pd.Series(
                        pdf["label"].to_numpy()[decided], dtype="int32"
                    ),
                    "cand_label": pd.array([None] * ndec, dtype="Int32"),
                    "pred_label": pd.array(pred[decided], dtype="Int32"),
                    "embedding": pd.Series([None] * ndec, dtype="object"),
                }
            )
            rows = []
            for i in np.nonzero(~decided)[0]:
                cands = (
                    np.nonzero(band[i])[0] if finite[i] else np.arange(len(CLAB))
                )
                for j in cands:
                    rows.append(
                        (
                            int(pdf["vec_id"].iloc[i]),
                            int(pdf["label"].iloc[i]),
                            int(CLAB[j]),
                            None,
                            emb[i],
                        )
                    )
            tie = pd.DataFrame(
                rows,
                columns=[
                    "vec_id",
                    "true_label",
                    "cand_label",
                    "pred_label",
                    "embedding",
                ],
            )
            # concat of an empty frame is a pandas deprecation — yield
            # only the non-empty parts
            parts = [p for p in (dec, tie) if len(p)]
            if len(parts) == 2:
                yield pd.concat(parts, ignore_index=True)
            elif parts:
                yield parts[0]

    raw = e.select("vec_id", "label", "embedding").mapInPandas(classify, out_schema)
    decided = raw.filter(F.col("pred_label").isNotNull()).select(
        "true_label", "pred_label"
    )
    # Tie rescore: EXACTLY the r12 expression — hoisted ncol column,
    # inline _norm/_dot folds, F.round 6, max(struct(cos, -label)) —
    # over the collected centroid realization (local relation).
    cent2 = spark.createDataFrame(crows, schema=cent.schema).withColumn(
        "ncol", _norm(F.col("cvec"))
    )
    ties = (
        raw.filter(F.col("pred_label").isNull())
        .join(F.broadcast(cent2), "cand_label")  # bcast: centroids
        .select(
            "vec_id",
            "true_label",
            "cand_label",
            F.round(
                _dot(F.col("embedding"), F.col("cvec"))
                / (_norm(F.col("embedding")) * F.col("ncol")),
                6,
            ).alias("cos_c"),
        )
    )
    tie_pred = (
        ties.groupBy("vec_id", "true_label")
        .agg(
            F.max(
                F.struct(F.col("cos_c"), (-F.col("cand_label")).alias("neg_label"))
            ).alias("best")
        )
        .select("true_label", (-F.col("best.neg_label")).alias("pred_label"))
    )
    return (
        decided.unionByName(tie_pred)
        .groupBy("true_label", "pred_label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )


@register(
    "dedup_source_overlap_matrix",
    oracle=f"""
    WITH pairs AS (SELECT * FROM ({_MINHASH_ORACLE}) t),
    tagged AS (
      SELECT LEAST(da.source, db.source) AS source_a,
             GREATEST(da.source, db.source) AS source_b
      FROM pairs p
      JOIN documents da ON da.doc_id = p.doc_a
      JOIN documents db ON db.doc_id = p.doc_b
    )
    SELECT source_a, source_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM tagged GROUP BY source_a, source_b
    """,
)
def dedup_source_overlap_matrix(spark, sf_dir):
    """Cross-source contamination matrix: near-dup pair counts by
    (source, source) — WHICH feeds copy from each other. This is the
    report that decides dedup ORDER in a multi-source ingest (dedup
    the downstream mirror against the upstream origin, not vice
    versa) and flags scraped-twice feeds. Rides the production
    minhash kernel unchanged (sub-quadratic, member-capped); the
    matrix step joins the tiny pair set back to document metadata
    (column-pruned: doc_id + source only) and reduces to a
    |sources|² agg. Pair orientation canonicalized LEAST/GREATEST so
    the matrix is upper-triangular regardless of id order."""
    d = load_table(spark, sf_dir, "documents")
    pairs = minhash_pairs(d)
    src = d.select("doc_id", "source")
    tagged = (
        pairs.join(src.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("source", "sa"), "doc_a")
        .join(src.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("source", "sb"), "doc_b")
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
    )
    return tagged.groupBy("source_a", "source_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    )


# 36-symbol alphabet for the character-entropy feature: letters,
# digits, space. Counted via the length-diff trick (NO explode — a
# per-char fan-out would shuffle |chars| rows at 100 TB; this is 37
# codegen'd expressions per row, map-only).
_ENTROPY_CHARS = "abcdefghijklmnopqrstuvwxyz0123456789 "


@register(
    "text_char_entropy",
    oracle=f"""
    WITH counts AS (
      SELECT doc_id, LENGTH(LOWER(text)) AS n,
             [LENGTH(LOWER(text)) - LENGTH(REPLACE(LOWER(text), c, ''))
              FOR c IN {[c for c in _ENTROPY_CHARS]!r}] AS ks
      FROM documents WHERE doc_id < 300
    )
    SELECT doc_id,
           CAST(LIST_SUM(ks) AS BIGINT) AS n_alpha,
           ROUND(LIST_SUM(LIST_TRANSFORM(ks, k ->
             CASE WHEN k = 0 THEN 0.0
                  ELSE -(k / CAST(LIST_SUM(ks) AS DOUBLE))
                       * LN(k / CAST(LIST_SUM(ks) AS DOUBLE)) / LN(2.0) END)), 6)
             AS entropy_bits
    FROM counts
    """,
)
def text_char_entropy(spark, sf_dir):
    """Character-distribution entropy (bits/char over a 37-symbol
    alphabet) — the classic quality feature separating natural text
    (~4 bits) from repeated boilerplate (low) and random noise
    (high); gates alongside `text_quality_logit`. Counts come from
    37 length-diff expressions (map-only, codegen'd — never an
    explode of |chars| rows); entropy is an ordered in-row fold of
    ≤37 terms in both engines with LN/LN(2) stated identically, so
    term order can never differ cross-engine, and ROUND(,6) absorbs
    the sub-ulp class (the zipf/perplexity discipline)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    low = F.lower(F.col("text"))
    ks = F.array(
        *[
            (F.length(low) - F.length(F.regexp_replace(low, re.escape(c), "")))
            for c in _ENTROPY_CHARS
        ]
    )
    staged = d.select("doc_id", ks.alias("ks")).select(
        "doc_id",
        "ks",
        F.aggregate("ks", F.lit(0).cast("long"), lambda a, x: a + x).alias("n_alpha"),
    )
    term = lambda k: F.when(k == 0, F.lit(0.0)).otherwise(  # noqa: E731
        -(k / F.col("n_alpha").cast("double"))
        * F.log(k / F.col("n_alpha").cast("double"))
        / F.log(F.lit(2.0))
    )
    return staged.select(
        "doc_id",
        F.col("n_alpha").cast("bigint").alias("n_alpha"),
        F.round(
            F.aggregate(
                F.transform(F.col("ks"), term), F.lit(0.0), lambda a, x: a + x
            ),
            6,
        ).alias("entropy_bits"),
    )


@register(
    "embedding_centroid_drift",
    oracle=f"""
    WITH halves AS (
      SELECT label, vec_id % 2 AS half, i, CAST(embedding[i] AS DOUBLE) AS v
      FROM embeddings, range(1, 65) r(i)
    ),
    cents AS (
      SELECT label, half, i, AVG(v) AS c, COUNT(DISTINCT CAST(NULL AS BIGINT)) AS _z
      FROM halves GROUP BY label, half, i
    ),
    paired AS (
      SELECT o.label, o.i, o.c AS c_old, n.c AS c_new
      FROM cents o JOIN cents n ON o.label = n.label AND o.i = n.i
      WHERE o.half = 0 AND n.half = 1
    ),
    sizes AS (
      SELECT label,
             CAST(SUM(CASE WHEN vec_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_old,
             CAST(SUM(CASE WHEN vec_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_new
      FROM embeddings GROUP BY label
    )
    SELECT p.label, s.n_old, s.n_new,
           ROUND(SUM(p.c_old * p.c_new) /
                 (SQRT(SUM(p.c_old * p.c_old)) * SQRT(SUM(p.c_new * p.c_new))), 6)
             AS centroid_cos,
           ROUND(SQRT(SUM((p.c_old - p.c_new) * (p.c_old - p.c_new))), 6)
             AS l2_shift
    FROM paired p JOIN sizes s ON s.label = p.label
    GROUP BY p.label, s.n_old, s.n_new
    """,
)
def embedding_centroid_drift(spark, sf_dir):
    """Embedding-space drift monitor: split the corpus into two
    snapshots (id parity stands in for time here; ingestion batch in
    production), compare per-label centroids — cosine near 1 and a
    small L2 shift mean the encoder/corpus is stable; a drifting
    label says re-cluster (IVF cells stale) or re-embed. The
    embedding-space complement of `corpus_drift_psi`. Per-dim
    centroids are exact single aggregates; everything after runs on
    the nlist x 64 frame (metadata-scale)."""
    e = load_table(spark, sf_dir, "embeddings")
    dims = e.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode("embedding").alias("pos", "v"),
    ).select("label", "half", "pos", F.col("v").cast("double").alias("v"))
    cents = dims.groupBy("label", "half", "pos").agg(F.avg("v").alias("c"))
    old = cents.filter(F.col("half") == 0).select(
        "label", "pos", F.col("c").alias("c_old")
    )
    new = cents.filter(F.col("half") == 1).select(
        "label", "pos", F.col("c").alias("c_new")
    )
    paired = old.join(new, ["label", "pos"])
    sizes = e.groupBy("label").agg(
        F.sum(F.when(F.col("vec_id") % 2 == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_old"),
        F.sum(F.when(F.col("vec_id") % 2 == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_new"),
    )
    drift = paired.groupBy("label").agg(
        F.round(
            F.sum(F.col("c_old") * F.col("c_new"))
            / (
                F.sqrt(F.sum(F.col("c_old") * F.col("c_old")))
                * F.sqrt(F.sum(F.col("c_new") * F.col("c_new")))
            ),
            6,
        ).alias("centroid_cos"),
        F.round(
            F.sqrt(F.sum((F.col("c_old") - F.col("c_new")) * (F.col("c_old") - F.col("c_new")))),
            6,
        ).alias("l2_shift"),
    )
    return drift.join(F.broadcast(sizes), "label").select(  # bcast: enum
        "label", "n_old", "n_new", "centroid_cos", "l2_shift"
    )


@register(
    "multimodal_coverage_audit",
    oracle="""
    SELECT d.lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_with_vec,
           CAST(SUM(CASE WHEN e.vec_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_orphan_docs,
           CAST(FLOOR(SUM(CASE WHEN e.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                      * 10000.0 / COUNT(*)) AS BIGINT) AS coverage_bps
    FROM documents d LEFT JOIN embeddings e ON e.vec_id = d.doc_id
    GROUP BY d.lang
    """,
)
def multimodal_coverage_audit(spark, sf_dir):
    """Modality-coverage audit: which documents are missing their
    embedding (and at what rate per language) — the referential-
    integrity check a multimodal store runs before training (an
    orphan text trains blind; an orphan vector is dead weight).
    One outer join on the shared id + a per-lang census; coverage
    in exact integer basis points (FLOOR of an identical double
    expression). At 100 TB both sides are id-bucketed so the join
    is co-located."""
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings").select(F.col("vec_id"))
    j = d.join(e, d.doc_id == e.vec_id, "left")
    has = F.when(F.col("vec_id").isNotNull(), 1).otherwise(0)
    return j.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(has).cast("bigint").alias("n_with_vec"),
        F.sum(1 - has).cast("bigint").alias("n_orphan_docs"),
        F.floor(F.sum(has) * 10000.0 / F.count(F.lit(1)))
        .cast("bigint")
        .alias("coverage_bps"),
    )


@register(
    "text_vocab_coverage_oov",
    oracle=f"""
    WITH toks AS (
      SELECT lang, w FROM (SELECT lang, unnest({D_TOKENS}) AS w FROM documents)
    ),
    freq AS (SELECT w, COUNT(*) AS n FROM toks GROUP BY w),
    vocab AS (
      SELECT w FROM (
        SELECT w, ROW_NUMBER() OVER (ORDER BY n DESC, w) AS rk FROM freq
      ) WHERE rk <= 1000
    )
    SELECT t.lang,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
           CAST(FLOOR(SUM(CASE WHEN v.w IS NULL THEN 1 ELSE 0 END)
                      * 1000000.0 / COUNT(*)) AS BIGINT) AS oov_ppm
    FROM toks t LEFT JOIN vocab v ON v.w = t.w
    GROUP BY t.lang
    """,
)
def text_vocab_coverage_oov(spark, sf_dir):
    """Tokenizer-vocabulary coverage: build a top-1000 frequency
    vocab over the corpus (the WordPiece/BPE seed step) and measure
    the out-of-vocabulary rate per language — the fairness number
    every multilingual tokenizer ships with (a vocab trained on the
    majority language starves the others; this query is the
    evidence). Vocab selection uses the distributed global-rank
    kernel (a web corpus has 10⁸ surface forms — no single-partition
    ORDER BY); the vocab is broadcast-sized by construction (top-K)
    so the coverage join is map-only. OOV rate in exact integer ppm."""
    from .ranking import with_global_rank

    d = load_table(spark, sf_dir, "documents")
    toks = d.select("lang", F.explode(F.expr(TOKENS)).alias("w"))
    freq = toks.groupBy("w").agg(F.count(F.lit(1)).alias("n"))
    vocab = (
        with_global_rank(freq, [F.col("n").desc(), "w"], "rk")
        .filter(F.col("rk") <= 1000)
        .select("w", F.lit(1).alias("_in_vocab"))
    )
    j = toks.join(F.broadcast(vocab), "w", "left")  # bcast: topk
    oov = F.when(F.col("_in_vocab").isNull(), 1).otherwise(0)
    return j.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum(oov).cast("bigint").alias("n_oov"),
        F.floor(F.sum(oov) * 1000000.0 / F.count(F.lit(1)))
        .cast("bigint")
        .alias("oov_ppm"),
    )


@register(
    "multimodal_phash_near_dup",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 2000000 AS doc_id, text || 'XXXXPADXX' AS text
      FROM documents WHERE doc_id < 50
    ),
    sh AS (
      SELECT doc_id, substring(text, i * 4 + 1, 8) AS s
      FROM (SELECT doc_id, text,
                   unnest(range(0, CASE WHEN length(text) >= 8
                                        THEN (length(text) - 8) // 4 + 1
                                        ELSE 0 END)) AS i
            FROM corpus)
    ),
    h AS (SELECT doc_id, {_d_h60('s')} AS hh FROM sh),
    bits AS (
      SELECT doc_id, b.i AS bit,
             SUM(CASE WHEN (hh >> b.i) & 1 = 1 THEN 1 ELSE -1 END) AS sgn
      FROM h, range(0, 48) b(i) GROUP BY doc_id, b.i
    ),
    sig AS (
      SELECT doc_id,
             SUM(CASE WHEN sgn > 0 THEN (1::BIGINT << bit) ELSE 0 END) AS sig
      FROM bits GROUP BY doc_id
    ),
    banded AS (
      SELECT doc_id, sig, r.b AS band, (sig >> (r.b * 12)) & 4095 AS key
      FROM sig, range(0, 4) r(b)
    ),
    buckets AS (
      SELECT band, key, COUNT(*) AS n FROM banded GROUP BY band, key
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
             a.sig AS sig_a, b.sig AS sig_b
      FROM banded a
      JOIN banded b ON a.band = b.band AND a.key = b.key
                   AND a.doc_id < b.doc_id
      JOIN buckets k ON k.band = a.band AND k.key = a.key
                    AND k.n BETWEEN 2 AND 256
    )
    SELECT doc_a, doc_b, CAST(bit_count(xor(sig_a, sig_b)) AS BIGINT) AS hamming
    FROM cand WHERE bit_count(xor(sig_a, sig_b)) <= 8
    """,
)
def multimodal_phash_near_dup(spark, sf_dir):
    """Perceptual-hash near-dup over opaque payloads: SimHash the
    byte 4-gram windows (8 bytes, stride 4) of each BLOB — the
    pHash/aHash role for stored media, catching re-encodes and
    metadata-tail edits that byte-exact dedup misses. Payload bytes
    stand in via text (stub convention of multimodal_decode_meta);
    the kernel is dedup_simhash's, re-pointed from token shingles to
    byte windows: 48-bit sign-sum signature (explode + 48 codegen'd
    sums, map-side combined), 4x12-bit LSH bands with the 256-member
    bucket cap, Hamming <= 8 verify — integer-exact end-to-end and
    sub-quadratic by banding. Dup behavior exercised against
    in-query padded-tail variants of the first 50 payloads (same
    leading windows -> tiny Hamming), since fixtures carry no raw
    dups."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    variants = d.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat("text", F.lit("XXXXPADXX")).alias("text"),
    )
    corpus = d.unionAll(variants)
    hs = corpus.filter(F.length("text") >= 8).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, (length(text) - 8) div 4),"
                f" i -> {_h60('substring(text, i * 4 + 1, 8)')})"
            )
        ).alias("hh"),
    )
    bit_sums = hs.groupBy("doc_id").agg(
        *[
            F.sum(F.shiftright(F.col("hh"), i).bitwiseAND(F.lit(1)) * 2 - 1).alias(
                f"b{i}"
            )
            for i in range(48)
        ]
    )
    sigs = bit_sums.select(
        "doc_id",
        sum(
            [
                F.when(F.col(f"b{i}") > 0, F.lit(1 << i).cast("long")).otherwise(
                    F.lit(0).cast("long")
                )
                for i in range(48)
            ],
            F.lit(0).cast("long"),
        ).alias("sig"),
    )
    banded = sigs.select(
        "doc_id",
        "sig",
        F.expr(
            "explode(transform(sequence(0, 3), b -> named_struct('band', b, 'key',"
            " (sig >> (b * 12)) & 4095)))"
        ).alias("bb"),
    ).select("doc_id", "sig", "bb.band", "bb.key")
    # r12: pin the 4-long band frame (the minhash_pairs fix) — the
    # count-first guard and the member collect otherwise each
    # recompute the whole signature subtree (no exchange reuse: the
    # two passes' exchanges carry different payloads).
    banded = _pin(banded)
    # count-first bucket guard (r11, same fix as minhash_pairs): admit
    # a bucket BEFORE collecting its members — a degenerate signature
    # (e.g. near-empty docs collapsing to one sig) otherwise builds a
    # corpus-sized collect_list buffer that the cap only inspects
    # after the fact. No broadcast hint: the bucket list grows with
    # data; the semi-join and groupBy share the (band, key) shuffle.
    _bucket_ok = (
        banded.groupBy("band", "key")
        .agg(F.count("*").alias("_m"))
        .filter((F.col("_m") > 1) & (F.col("_m") <= 256))
        .select("band", "key")
    )
    guarded = (
        banded.join(_bucket_ok, ["band", "key"], "left_semi")
        .groupBy("band", "key")
        .agg(
            F.sort_array(F.collect_list(F.struct("doc_id", "sig"))).alias("members")
        )
    )
    pairs = (
        guarded.select(
            F.explode(
                F.expr(
                    "flatten(transform(members, (m1, i) ->"
                    " transform(slice(members, i + 2, size(members) - i - 1), m2 ->"
                    " named_struct('doc_a', m1.doc_id, 'doc_b', m2.doc_id,"
                    "              'sig_a', m1.sig, 'sig_b', m2.sig))))"
                )
            ).alias("p")
        )
        .select("p.doc_a", "p.doc_b", "p.sig_a", "p.sig_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    return (
        pairs.withColumn("hamming", F.expr("bit_count(sig_a ^ sig_b)").cast("bigint"))
        .filter(F.col("hamming") <= 8)
        .select("doc_a", "doc_b", "hamming")
    )


@register(
    "pipeline_filter_funnel_report",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang, n_chars,
             SHA256(LOWER(TRIM(text))) AS content_hash,
             {D_TOKENS} AS toks
      FROM documents
    ),
    flagged AS (
      SELECT doc_id, lang, n_chars, content_hash,
             LEN(toks) AS n_tokens,
             CASE WHEN LEN(toks) = 0 THEN 0.0
                  ELSE LEN(LIST_DISTINCT(toks))::DOUBLE / LEN(toks) END AS uniq_ratio
      FROM scored
    ),
    q AS (
      SELECT *, (n_tokens >= 10 AND n_chars BETWEEN 60 AND 600) AS pass_quality
      FROM flagged
    ),
    dd AS (
      SELECT *, CASE WHEN pass_quality THEN
               ROW_NUMBER() OVER (PARTITION BY content_hash, pass_quality
                                  ORDER BY doc_id) ELSE NULL END AS rn
      FROM q
    ),
    attributed AS (
      SELECT CASE
               WHEN n_tokens < 10 THEN 1
               WHEN n_chars NOT BETWEEN 60 AND 600 THEN 2
               WHEN rn > 1 THEN 3
               WHEN uniq_ratio < 0.3 THEN 4
               WHEN lang NOT IN ('en', 'de', 'es', 'fr') THEN 5
               ELSE 6 END AS stage_idx
      FROM dd
    ),
    counts AS (
      SELECT s.stage_idx, s.stage,
             CAST(COALESCE(c.n, 0) AS BIGINT) AS n_rejected
      FROM (VALUES (1, 'too_few_tokens'), (2, 'length_out_of_band'),
                   (3, 'exact_duplicate'), (4, 'low_uniq_ratio'),
                   (5, 'lang_not_allowed')) s(stage_idx, stage)
      LEFT JOIN (SELECT stage_idx, COUNT(*) AS n FROM attributed GROUP BY stage_idx) c
        ON c.stage_idx = s.stage_idx
    ),
    tot AS (SELECT COUNT(*) AS n FROM documents)
    SELECT stage_idx, stage, n_rejected,
           CAST(t.n - SUM(n_rejected) OVER (ORDER BY stage_idx) AS BIGINT)
             AS n_remaining
    FROM counts, tot t
    """,
)
def pipeline_filter_funnel_report(spark, sf_dir):
    """Filter-funnel observability for the cleaning pipeline: every
    document attributed to the FIRST gate that rejects it (token
    floor → length band → exact dup → uniqueness → language
    allowlist, the exact `pipeline_clean_corpus` gate order), with
    per-stage rejection counts and the cumulative survivor count —
    the report that tells a pipeline owner WHICH gate is eating the
    corpus before they ship a mix. Same single scan + dedup-hash
    shuffle as the cleaner itself; the funnel math runs on a 5-row
    frame. All-integer outputs."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id",
        "lang",
        "n_chars",
        F.sha2(F.lower(F.trim(F.col("text"))), 256).alias("content_hash"),
        F.expr(TOKENS).alias("toks"),
    ).select(
        "doc_id",
        "lang",
        "n_chars",
        "content_hash",
        F.size("toks").alias("n_tokens"),
        F.when(F.size("toks") == 0, 0.0)
        .otherwise(F.size(F.array_distinct("toks")).cast("double") / F.size("toks"))
        .alias("uniq_ratio"),
    )
    q = scored.withColumn(
        "pass_quality",
        (F.col("n_tokens") >= 10) & F.col("n_chars").between(60, 600),
    )
    w = Window.partitionBy("content_hash", "pass_quality").orderBy("doc_id")
    dd = q.withColumn(
        "rn", F.when(F.col("pass_quality"), F.row_number().over(w))
    )
    stage_idx = (
        F.when(F.col("n_tokens") < 10, 1)
        .when(~F.col("n_chars").between(60, 600), 2)
        .when(F.col("rn") > 1, 3)
        .when(F.col("uniq_ratio") < 0.3, 4)
        .when(~F.col("lang").isin("en", "de", "es", "fr"), 5)
        .otherwise(6)
    )
    attributed = dd.select(stage_idx.alias("stage_idx"))
    stages = spark.createDataFrame(
        [
            (1, "too_few_tokens"),
            (2, "length_out_of_band"),
            (3, "exact_duplicate"),
            (4, "low_uniq_ratio"),
            (5, "lang_not_allowed"),
        ],
        "stage_idx int, stage string",
    )
    counts = (
        stages.join(
            attributed.groupBy("stage_idx").agg(F.count(F.lit(1)).alias("n")),
            "stage_idx",
            "left",
        )
        .select(
            "stage_idx",
            "stage",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_rejected"),
        )
    )
    tot = d.agg(F.count(F.lit(1)).alias("total"))
    wcum = Window.orderBy("stage_idx").rowsBetween(Window.unboundedPreceding, 0)
    return (
        counts.crossJoin(F.broadcast(tot))  # bcast: scalar
        .withColumn(
            "n_remaining",
            (F.col("total") - F.sum("n_rejected").over(wcum)).cast("bigint"),
        )
        .select("stage_idx", "stage", "n_rejected", "n_remaining")
    )


@register(
    "text_readability_fk",
    oracle=r"""
    WITH feats AS (
      SELECT doc_id,
             GREATEST(LEN(regexp_extract_all(text, '[.!?]+')), 1) AS n_sentences,
             LEN(list_filter(string_split(lower(text), ' '), w -> w <> ''))
               AS n_words,
             LEN(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_syllables
      FROM documents WHERE doc_id < 300
    )
    SELECT doc_id, CAST(n_sentences AS BIGINT) AS n_sentences,
           CAST(n_words AS BIGINT) AS n_words,
           CAST(n_syllables AS BIGINT) AS n_syllables,
           CASE WHEN n_words = 0 THEN NULL ELSE
             ROUND(0.39 * (n_words / CAST(n_sentences AS DOUBLE))
                   + 11.8 * (n_syllables / CAST(n_words AS DOUBLE)) - 15.59, 6) END
             AS fk_grade
    FROM feats
    """,
)
def text_readability_fk(spark, sf_dir):
    """Flesch-Kincaid grade level — the readability feature quality
    mixes and kid-safe filters key on. Sentences from terminal-
    punctuation runs (floored at 1), syllables approximated by
    vowel-group runs (the standard cheap estimator) — all INTEGER
    counts from regexp_extract_all, identical in both engines; the
    grade itself is one shared closed-form float rounded to 6.
    Map-only, codegen'd, no shuffle."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    n_sent = F.greatest(
        F.size(F.expr("regexp_extract_all(text, '[.!?]+', 0)")), F.lit(1)
    )
    n_words = F.size(F.expr(TOKENS))
    n_syll = F.size(F.expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)"))
    feats = d.select(
        "doc_id",
        n_sent.alias("n_sentences"),
        n_words.alias("n_words"),
        n_syll.alias("n_syllables"),
    )
    return feats.select(
        "doc_id",
        F.col("n_sentences").cast("bigint").alias("n_sentences"),
        F.col("n_words").cast("bigint").alias("n_words"),
        F.col("n_syllables").cast("bigint").alias("n_syllables"),
        F.when(F.col("n_words") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                0.39 * (F.col("n_words") / F.col("n_sentences").cast("double"))
                + 11.8 * (F.col("n_syllables") / F.col("n_words").cast("double"))
                - 15.59,
                6,
            )
        )
        .alias("fk_grade"),
    )


def _pca_oracle(iters: int = 8) -> str:
    """Programmatic SQL twin of embedding_pca_power_top1 — one CTE
    pair per power-iteration superstep (the _pagerank_oracle
    pattern). Every quantity is integer-exact; see the operator
    docstring for the scaling proof."""
    parts = [
        """
    WITH q AS MATERIALIZED (
      SELECT vec_id, i,
             CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 4096.0) AS BIGINT) AS qi
      FROM embeddings, range(1, 65) r(i)
    ),
    s AS (SELECT i, CAST(SUM(qi) AS BIGINT) AS si FROM q GROUP BY i),
    nn AS (SELECT COUNT(*) AS n FROM embeddings),
    m AS MATERIALIZED (
      SELECT a.i AS i, b.i AS j, CAST(SUM(a.qi * b.qi) AS BIGINT) AS mij
      FROM q a JOIN q b ON a.vec_id = b.vec_id
      GROUP BY a.i, b.i
    ),
    c AS (
      SELECT m.i, m.j, nn.n * m.mij - sa.si * sb.si AS c
      FROM m CROSS JOIN nn
      JOIN s sa ON sa.i = m.i
      JOIN s sb ON sb.i = m.j
    ),
    sh AS (
      SELECT GREATEST(LENGTH(bin(MAX(ABS(c)))) - 30, 0) AS sb,
             (1::BIGINT << CAST(GREATEST(LENGTH(bin(MAX(ABS(c)))) - 30, 0) AS INT))
               AS p
      FROM c
    ),
    cs AS MATERIALIZED (
      SELECT i, j,
             CAST((c - (((c % p) + p) % p)) // p AS BIGINT) AS cs
      FROM c, sh
    ),
    v0 AS (SELECT CAST(i AS INT) AS j, 4096::BIGINT AS v FROM range(1, 65) r(i))"""
    ]
    for k in range(1, iters + 1):
        parts.append(f""",
    mv{k} AS MATERIALIZED (
      SELECT cs.i, CAST(SUM(cs.cs * v{k - 1}.v) AS BIGINT) AS mv
      FROM cs JOIN v{k - 1} ON v{k - 1}.j = cs.j GROUP BY cs.i
    ),
    mx{k} AS (
      SELECT (1::BIGINT << CAST(GREATEST(
               LENGTH(bin(GREATEST(MAX(ABS(mv)), 1))) - 12, 0) AS INT)) AS p2
      FROM mv{k}
    ),
    v{k} AS (
      SELECT CAST(i AS INT) AS j,
             CAST((mv - (((mv % p2) + p2) % p2)) // p2 AS BIGINT) AS v
      FROM mv{k}, mx{k}
    )""")
    parts.append(f""",
    w AS (
      SELECT cs.i, CAST(SUM(cs.cs * v{iters}.v) AS BIGINT) AS w
      FROM cs JOIN v{iters} ON v{iters}.j = cs.j GROUP BY cs.i
    ),
    wq AS (
      SELECT i,
             CAST((w - (((w % 1048576) + 1048576) % 1048576)) // 1048576
                  AS BIGINT) AS wq
      FROM w
    ),
    ray AS (
      SELECT CAST(SUM(v.v * wq.wq) AS BIGINT) AS num,
             CAST(SUM(v.v * v.v) AS BIGINT) AS den
      FROM v{iters} v JOIN wq ON wq.i = v.j
    ),
    tr AS (SELECT CAST(SUM(cs) AS BIGINT) AS trace FROM cs WHERE i = j)
    SELECT v.j AS dim, v.v AS component,
           ROUND(ray.num * 1048576.0 / ray.den, 6) AS eigval_scaled,
           ROUND(ray.num * 1048576.0 / ray.den / tr.trace, 6) AS explained_share
    FROM v{iters} v CROSS JOIN ray CROSS JOIN tr""")
    return "".join(parts)


@register("embedding_pca_power_top1", oracle=_pca_oracle())
def embedding_pca_power_top1(spark, sf_dir):
    """Top principal component of the embedding corpus by POWER
    ITERATION — run entirely in integer arithmetic so the result is
    bit-identical across engines, replicas, and partitionings. The
    consumer is embedding-store ops: the dominant direction drives
    whitening decisions, anisotropy diagnostics (embeddings
    collapsing toward one axis), and matryoshka-style truncation
    calls; `explained_share` (Rayleigh/trace) is the one-number
    anisotropy score. Honest convergence framing: 8 fixed supersteps
    report the power-iteration ESTIMATE — on a near-isotropic corpus
    (flat spectrum, like these fixtures) no small iteration count
    isolates the top eigenvector, and the ~1/64-flat share is
    precisely the 'no collapse' diagnostic; on a genuinely
    anisotropic corpus the gap drives fast convergence. The exact
    replication test (tests/test_round5_ops.py) pins the algorithm
    bit-for-bit and bounds the share by numpy's true λ₁/trace.

    Determinism by construction (every step exact):
    - values quantize to 12-bit fixed point (FLOOR(x·4096) — float32
      → double is exact, ·2¹² shifts the exponent);
    - the centered scatter matrix C = n·Σqqᵀ − (Σq)(Σq)ᵀ is pure
      BIGINT (no means, no float subtraction);
    - C rescales by a power of two chosen from its own max bit
      length (LENGTH(bin(max|C|)) − 30 — integer, data-derived) so
      every later product stays < 2⁶³;
    - each superstep is an integer matvec + renormalize-to-4096 via
      floor division (the ((x%m)+m)%m floor-mod identity — both
      engines truncate `%` toward the dividend, the identity makes
      it a true floor);
    - the Rayleigh quotient is a ratio of two exact BIGINTs (w
      pre-scaled by 2²⁰ to keep the inner product < 2⁶³), evaluated
      with one identical double expression.

    Scale shape: the data-sized work is ONE pass — partial Gram
    q'q, column sums, and counts accumulate per Arrow batch in
    int64 (mapInPandas; integer partials are order-independent, so
    any partitioning gives the same matrix), then reduce to a 64×64
    frame. The 8 supersteps run as exact arbitrary-precision
    integer math on that constant-size state (graph.py keeps
    PageRank's supersteps distributed because its state is
    graph-sized; here the state is 4096 integers, and a
    DataFrame-superstep variant measured ~10 s of pure job
    overhead for the same bits)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import IntegerType, LongType, StructField, StructType

    part_schema = StructType(
        [
            StructField("i", IntegerType()),
            StructField("j", IntegerType()),
            StructField("val", LongType()),
        ]
    )

    def partial_moments(batches):
        # self-contained closure (executors can't import the package);
        # emits per-batch integer partials: (i,j)->Gram, (i,0 w/ j=-1)
        # -> column sum, (-1,-1)->count. Integer partials commute, so
        # the downstream SUM is partitioning-independent.
        for pdf in batches:
            if len(pdf) == 0:
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype("float64")
            q = np.floor(x * 4096.0).astype("int64")
            g = q.T @ q  # 64x64 int64, exact (|q|<=2^12+, n<=batch)
            s = q.sum(axis=0)
            ii, jj = np.indices(g.shape)
            out = pd.DataFrame(
                {
                    "i": (ii.ravel() + 1).astype("int32"),
                    "j": (jj.ravel() + 1).astype("int32"),
                    "val": g.ravel(),
                }
            )
            sums = pd.DataFrame(
                {
                    "i": np.arange(1, 65, dtype="int32"),
                    "j": np.full(64, -1, dtype="int32"),
                    "val": s,
                }
            )
            cnt = pd.DataFrame({"i": [-1], "j": [-1], "val": [len(pdf)]})
            yield pd.concat([out, sums, cnt], ignore_index=True)

    e = load_table(spark, sf_dir, "embeddings").select("embedding")
    moments = (
        e.mapInPandas(partial_moments, part_schema)
        .groupBy("i", "j")
        .agg(F.sum("val").cast("long").alias("val"))
    ).transform(_pin)
    mfr = moments.filter((F.col("i") > 0) & (F.col("j") > 0)).select(
        "i", "j", F.col("val").alias("mij")
    )
    sfr = moments.filter((F.col("i") > 0) & (F.col("j") == -1)).select(
        F.col("i").alias("si_i"), F.col("val").alias("si")
    )
    nfr = moments.filter(F.col("i") == -1).select(F.col("val").alias("n"))

    # The scatter matrix is CONSTANT-size (64x64) — everything after
    # the one-pass distributed moments reduction is metadata-scale,
    # so the supersteps run as exact Python-integer driver math (the
    # ann_index-centroid precedent: bounded driver round-trips are
    # legitimate; a DataFrame-superstep variant measured ~10 s of
    # pure per-job overhead on 64-row frames). Python ints are
    # arbitrary-precision, so no overflow analysis is even needed —
    # but the SQL oracle's BIGINT path is kept in-range by the same
    # power-of-two scaling.
    rows = mfr.collect()
    s_rows = {r["si_i"]: r["si"] for r in sfr.collect()}
    n_rows = nfr.collect()
    if not n_rows:  # no embeddings: no component, like the oracle
        return spark.createDataFrame(
            [],
            "dim int, component long, eigval_scaled double, explained_share double",
        )
    n = n_rows[0]["n"]
    C = {}
    for r in rows:
        C[(r["i"], r["j"])] = n * r["mij"] - s_rows[r["i"]] * s_rows[r["j"]]
    maxabs = max(abs(v) for v in C.values())
    shift = max(maxabs.bit_length() - 30, 0)
    p = 1 << shift
    cs = {k: v // p for k, v in C.items()}  # Python // IS floor division
    v = {j: 4096 for j in range(1, 65)}
    for _ in range(8):
        mv = {
            i: sum(cs[(i, j)] * v[j] for j in range(1, 65)) for i in range(1, 65)
        }
        mnorm = max(max(abs(x) for x in mv.values()), 1)
        p2 = 1 << max(mnorm.bit_length() - 12, 0)
        v = {i: mv[i] // p2 for i in range(1, 65)}
    w = {i: sum(cs[(i, j)] * v[j] for j in range(1, 65)) for i in range(1, 65)}
    wq = {i: w[i] // 1048576 for i in range(1, 65)}
    num = sum(v[i] * wq[i] for i in range(1, 65))
    den = sum(v[i] * v[i] for i in range(1, 65))
    trace = sum(cs[(i, i)] for i in range(1, 65))
    out = spark.createDataFrame(
        [(i, v[i]) for i in range(1, 65)], "dim int, component long"
    )
    # the two rounded doubles round IN-ENGINE (Spark ROUND is half-up
    # like the oracle's; Python round() is banker's and disagrees)
    return out.select(
        "dim",
        "component",
        F.round(F.lit(num) * 1048576.0 / F.lit(den), 6).alias("eigval_scaled"),
        F.round(F.lit(num) * 1048576.0 / F.lit(den) / F.lit(trace), 6).alias(
            "explained_share"
        ),
    )


# ---------------------------------------------------------------------------
# round 6: BPE merge statistics, corpus novelty, batch length-bucketing


@register(
    "text_bpe_merge_candidates",
    oracle=f"""
    WITH toks AS (
      SELECT {D_TOKENS} AS toks FROM documents
    ), pairs AS (
      SELECT unnest(list_transform(range(1, len(toks)),
                    i -> toks[i] || ' ' || toks[i+1])) AS pair
      FROM toks WHERE len(toks) >= 2
    ), counted AS (
      SELECT pair, CAST(COUNT(*) AS BIGINT) AS cnt FROM pairs GROUP BY pair
    )
    SELECT pair, cnt,
           CAST(ROW_NUMBER() OVER (ORDER BY cnt DESC, pair) AS INT) AS rnk
    FROM counted
    ORDER BY cnt DESC, pair
    LIMIT 20
    """,
)
def text_bpe_merge_candidates(spark, sf_dir):
    """The BPE tokenizer-training inner step: count every ADJACENT
    token pair across the corpus (occurrences, not document
    frequency — a doc repeating a bigram votes once per occurrence,
    which is what the merge rule optimizes) and emit the top-20 merge
    candidates. Iterating this query — merge the winner, re-tokenize,
    recount — IS the BPE training loop (Sennrich et al. 2016); one
    step is the gradable unit because each iteration's input depends
    on the previous merge.

    Adjacent pairs come from a zip of two shifted slices of the
    staged token array (the SHINGLES_FROM_TOKS trick, 2-wide and
    NON-distinct), so the expression is whole-stage codegen. Plan:
    explode pipelines into a map-side partial count, one shuffle of
    |distinct pairs| partials, then TakeOrdered(20) — no global
    sort. At 100 TB the pair vocabulary, not the corpus, bounds the
    shuffle."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    pairs_expr = (
        "CASE WHEN size(toks) >= 2 THEN"
        " zip_with(slice(toks, 1, size(toks) - 1),"
        " slice(toks, 2, size(toks) - 1), (x, y) -> concat(x, ' ', y))"
        " ELSE cast(array() as array<string>) END"
    )
    counted = (
        d.select(F.expr(TOKENS).alias("toks"))
        .select(F.explode(F.expr(pairs_expr)).alias("pair"))
        .groupBy("pair")
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.orderBy(F.col("cnt").desc(), "pair")
    return (
        counted.orderBy(F.col("cnt").desc(), "pair")
        .limit(20)
        .withColumn("rnk", F.row_number().over(w))
        .select("pair", "cnt", "rnk")
    )


@register(
    "text_ngram_novelty_rate",
    oracle=f"""
    WITH s AS (
      SELECT doc_id, unnest({D_SHINGLES}) AS shingle FROM documents
    ), first_seen AS (
      SELECT shingle, MIN(doc_id) AS first_doc FROM s GROUP BY shingle
    )
    SELECT s.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           SUM(CASE WHEN f.first_doc = s.doc_id THEN 1 ELSE 0 END)
             / CAST(COUNT(*) AS DOUBLE) AS novelty_rate
    FROM s JOIN first_seen f ON f.shingle = s.shingle
    GROUP BY s.doc_id
    """,
)
def text_ngram_novelty_rate(spark, sf_dir):
    """Corpus novelty decay — for each document (in ingestion order =
    doc_id), the share of its distinct 3-shingles that appear for the
    FIRST time in that document. The curve over doc_id is the
    diminishing-returns diagnostic a data-curation pass reads before
    deciding how much more of a source to crawl (novelty ~0 means the
    source is exhausted); per-doc it doubles as a staleness score for
    curriculum ordering.

    novelty_rate is one integer-over-integer division (bit-exact
    cross-engine). Plan (restructured r8 after the ×128 tier audit):
    the original joined the full (doc, shingle) occurrence stream
    back onto first_seen — an |occurrences|-scale shuffle join that
    went super-linear under the ×128 stress (65 s; hot shingle keys
    grow with the corpus) — but the join carried no information the
    aggregates don't: per-doc shingle counts come straight off the
    occurrence stream, and per-doc NOVEL counts are just first_seen
    re-grouped by its argmin doc. Now: two map-side-combinable aggs
    over the exploded stream (count per doc; min per shingle) and
    one DOC-scale left join — the big intermediates never meet in a
    join. At 100 TB first_seen prunes to (shingle, first_doc) pairs
    and the only join is per-document metadata."""
    d = load_table(spark, sf_dir, "documents")
    s = with_shingles(d, "doc_id").select(
        "doc_id", F.explode("shingles").alias("shingle")
    )
    per_doc = s.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shingles")
    )
    first = s.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    novel = first.groupBy(F.col("first_doc").alias("doc_id")).agg(
        F.count(F.lit(1)).cast("bigint").alias("_novel")
    )
    return per_doc.join(novel, "doc_id", "left").select(
        "doc_id",
        "n_shingles",
        F.coalesce(F.col("_novel"), F.lit(0)).cast("bigint").alias("n_novel"),
        (
            F.coalesce(F.col("_novel"), F.lit(0))
            / F.col("n_shingles").cast("double")
        ).alias("novelty_rate"),
    )


_LB_LADDER = (16, 32, 64, 128, 256, 512)
_LB_MAX = 1024  # docs past the ladder are truncated to the max context


def _bucket_case(n_expr: str) -> str:
    """Shared CASE ladder (identical text both engines): next
    power-of-two batch bucket, integer compares only — no log2
    boundary float risk at exact powers of two."""
    arms = " ".join(
        f"WHEN {n_expr} <= {b} THEN {b}" for b in _LB_LADDER
    )
    return f"CASE {arms} ELSE {_LB_MAX} END"


@register(
    "pipeline_length_bucket_batching",
    oracle=f"""
    WITH lens AS (
      SELECT CAST({_bucket_case(f"len({D_TOKENS})")} AS BIGINT) AS bucket,
             CAST(LEAST(len({D_TOKENS}), {_LB_MAX}) AS BIGINT) AS n_toks
      FROM documents WHERE len({D_TOKENS}) > 0
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_toks) AS BIGINT) AS real_tokens,
           CAST(COUNT(*) * bucket AS BIGINT) AS padded_tokens,
           1.0 - SUM(n_toks) / CAST(COUNT(*) * bucket AS DOUBLE) AS waste_ratio
    FROM lens
    GROUP BY bucket
    """,
)
def pipeline_length_bucket_batching(spark, sf_dir):
    """Length-bucketed batching plan — group documents into
    power-of-two token-length buckets (the standard trick to keep
    padding waste bounded when batching variable-length sequences for
    training), truncating past the max context. Per bucket: document
    count, real vs padded token volume, and the padding-waste ratio
    the batcher is paying. A sorted-batching scheduler consumes
    exactly this table to choose bucket boundaries.

    The bucket is an integer CASE ladder (no pow/log2 float boundary
    at exact powers of two); waste_ratio is 1 - int/int in one
    fp divide each engine. Map-only bucketing into a <=7-key hash
    agg — scan-speed at any scale."""
    d = load_table(spark, sf_dir, "documents")
    lens = (
        d.select(F.size(F.expr(TOKENS)).alias("raw_n"))
        .filter(F.col("raw_n") > 0)
        .select(
            F.expr(_bucket_case("raw_n")).cast("bigint").alias("bucket"),
            F.least(F.col("raw_n"), F.lit(_LB_MAX)).cast("bigint").alias("n_toks"),
        )
    )
    return lens.groupBy("bucket").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").alias("real_tokens"),
        (F.count("*") * F.col("bucket")).alias("padded_tokens"),
        (
            F.lit(1.0)
            - F.sum("n_toks") / (F.count("*") * F.col("bucket")).cast("double")
        ).alias("waste_ratio"),
    )


@register(
    "embedding_binary_quantize_recall",
    oracle="""
    WITH bits AS (
      SELECT vec_id,
             LIST_TRANSFORM(embedding,
               x -> CASE WHEN CAST(x AS DOUBLE) > 0.0 THEN 1 ELSE 0 END) AS b
      FROM embeddings
    ),
    q AS (SELECT b AS qb FROM bits WHERE vec_id = 0),
    qf AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    iscored AS (
      SELECT c.vec_id,
             CAST(SUM(CASE WHEN c.b[r.i] = q.qb[r.i] THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_match_bits
      FROM bits c, q, range(1, 65) r(i)
      WHERE c.vec_id <> 0
      GROUP BY c.vec_id
    ),
    itop AS (
      SELECT vec_id, n_match_bits,
             CAST(ROW_NUMBER() OVER (ORDER BY n_match_bits DESC, vec_id)
                  AS BIGINT) AS q_rank
      FROM iscored ORDER BY n_match_bits DESC, vec_id LIMIT 10
    ),
    fscored AS (
      SELECT e.vec_id,
             ROUND(SUM(CAST(e.embedding[r.i] AS DOUBLE) * CAST(qf.qv[r.i] AS DOUBLE)) /
                   (SQRT(SUM(CAST(e.embedding[r.i] AS DOUBLE) * CAST(e.embedding[r.i] AS DOUBLE))) *
                    SQRT(SUM(CAST(qf.qv[r.i] AS DOUBLE) * CAST(qf.qv[r.i] AS DOUBLE)))), 6)
               AS cos_sim
      FROM embeddings e, qf, range(1, 65) r(i)
      WHERE e.vec_id <> 0
      GROUP BY e.vec_id
    ),
    ftop AS (
      SELECT vec_id FROM fscored ORDER BY cos_sim DESC, vec_id LIMIT 10
    )
    SELECT i.q_rank, i.vec_id, i.n_match_bits,
           (f.vec_id IS NOT NULL) AS in_exact_top10
    FROM itop i LEFT JOIN ftop f ON f.vec_id = i.vec_id
    """,
)
def embedding_binary_quantize_recall(spark, sf_dir):
    """Binary (1-bit-per-dim) quantization kNN + in-engine recall
    audit — the most aggressive rung of the quantization ladder after
    `embedding_quantize_int8` / `sim_knn_int8_recall`: keep only each
    dimension's sign bit (32x smaller than float32), score candidates
    by matching-bit count (64 - Hamming distance), and flag which of
    the binary top-10 survive in the exact float top-10. Production
    vector stores ship exactly this as the first-pass filter (scan
    the packed bits at memory bandwidth, rescore survivors in float);
    the recall column is the in-engine evidence for how much the
    rescore pass must widen.

    Determinism: sign bits are exact integer comparisons (ties at 0.0
    map to 0 in both engines), the score is an associative INTEGER
    sum, ranking ties break on vec_id; only the audit cosine touches
    floats (rounded to 6 before its own deterministic order). Plan:
    broadcast the 64-bit query pattern, map-side popcount-style
    scoring, TakeOrdered 10 — at 100 TB this is a packed-uint64
    XOR+popcount scan; the expression form here is its semantic
    twin."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")
    bits = e.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: F.when(x.cast("double") > 0.0, 1).otherwise(0),
        ).alias("b"),
    )
    q = bits.filter(F.col("vec_id") == 0).select(F.col("b").alias("qb"))
    n_match = F.aggregate(
        F.zip_with(F.col("b"), F.col("qb"), lambda a, c: F.when(a == c, 1).otherwise(0)),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    itop = (
        bits.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q))  # bcast: scalar
        .select("vec_id", n_match.alias("n_match_bits"))
        .orderBy(F.col("n_match_bits").desc(), "vec_id")
        .limit(10)
        .withColumn(
            "q_rank",
            F.row_number()
            .over(Window.orderBy(F.col("n_match_bits").desc(), "vec_id"))
            .cast("bigint"),
        )
    )
    qf = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"), _norm(F.col("embedding")).alias("qn"))
    ftop = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qf))  # bcast: scalar
        .select(
            F.col("vec_id").alias("f_vec"),
            F.round(
                _dot(F.col("embedding"), F.col("qv"))
                / (_norm(F.col("embedding")) * F.col("qn")),
                6,
            ).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), "f_vec")
        .limit(10)
        .select("f_vec")
    )
    return itop.join(ftop, itop.vec_id == ftop.f_vec, "left").select(
        "q_rank",
        "vec_id",
        "n_match_bits",
        F.col("f_vec").isNotNull().alias("in_exact_top10"),
    )


@register(
    "sim_kmeans_assign_step",
    oracle=f"""
    WITH seeds AS (
      SELECT vec_id AS cid, embedding AS cv FROM embeddings WHERE vec_id < 8
    ),
    scored AS (
      SELECT e.vec_id, s.cid,
             ROUND({_d_cosine('e.embedding', 's.cv')}, 6) AS cos_sim
      FROM embeddings e CROSS JOIN seeds s, range(1, 65) r(i)
      GROUP BY e.vec_id, s.cid
    ),
    best AS (
      SELECT vec_id, cid, cos_sim,
             ROW_NUMBER() OVER (PARTITION BY vec_id
                                ORDER BY cos_sim DESC, cid) AS rn
      FROM scored
    )
    SELECT cid AS centroid_id,
           CAST(COUNT(*) AS BIGINT) AS n_assigned,
           MIN(vec_id) AS min_vec,
           MAX(vec_id) AS max_vec
    FROM best WHERE rn = 1
    GROUP BY cid
    """,
)
def sim_kmeans_assign_step(spark, sf_dir):
    """One k-means ASSIGNMENT step with deterministic seeds (the
    first 8 vectors): every vector goes to the seed centroid with the
    highest rounded cosine (tie -> lowest centroid id), reported as
    per-centroid membership counts and id ranges. This is the
    gradable unit of Lloyd's iteration — like text_bpe_merge_candidates,
    each further iteration's input depends on the previous step's
    output (new centroids = member means), so the loop runs this
    query, recomputes centroids, and repeats; it is also exactly how
    an IVF index (sim_knn_ivf) trains its cell list.

    Plan: broadcast the 8 seed vectors, map-side 8 cosines per
    vector (whole-stage codegen fold), per-vector argmax via
    row_number over 8 rows, then an 8-key count — one shuffle of
    (vec_id, best) assignments. Linear in corpus size at any scale;
    k bounds the per-row work, never the data."""
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "embeddings")
    seeds = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    )
    scored = e.crossJoin(F.broadcast(seeds)).select(  # bcast: centroids
        "vec_id",
        "cid",
        _fold_cos6(F.col("embedding"), F.col("cv")).alias("cos_sim"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.col("cos_sim").desc(), "cid")
    best = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return best.groupBy(F.col("cid").alias("centroid_id")).agg(
        F.count("*").alias("n_assigned"),
        F.min("vec_id").alias("min_vec"),
        F.max("vec_id").alias("max_vec"),
    )


@register(
    "text_bpe_apply_merge",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {D_TOKENS} AS toks FROM documents
    ), pairs AS (
      SELECT unnest(list_transform(range(1, len(toks)),
                    i -> toks[i] || ' ' || toks[i+1])) AS pair
      FROM toks WHERE len(toks) >= 2
    ), top1 AS (
      SELECT pair FROM pairs GROUP BY pair
      ORDER BY COUNT(*) DESC, pair LIMIT 1
    ), applied AS (
      SELECT t.doc_id,
             CAST(len(t.toks) AS BIGINT) AS n_toks_before,
             p.pair AS merged_pair,
             TRIM(REPLACE(' ' || array_to_string(t.toks, ' ') || ' ',
                          ' ' || p.pair || ' ',
                          ' ' || REPLACE(p.pair, ' ', '_') || ' ')) AS merged
      FROM toks t CROSS JOIN top1 p
      WHERE len(t.toks) >= 2
    )
    SELECT doc_id, merged_pair, n_toks_before,
           CAST(len(list_filter(string_split(merged, ' '), w -> w <> ''))
                AS BIGINT) AS n_toks_after,
           n_toks_before
             - CAST(len(list_filter(string_split(merged, ' '), w -> w <> ''))
                    AS BIGINT) AS n_merges
    FROM applied
    WHERE n_toks_before
          <> CAST(len(list_filter(string_split(merged, ' '), w -> w <> ''))
                  AS BIGINT)
    """,
)
def text_bpe_apply_merge(spark, sf_dir):
    """The second half of the BPE training loop: take the winning
    merge candidate from `text_bpe_merge_candidates` (computed
    in-query as a one-row broadcast) and APPLY it — every
    left-to-right non-overlapping occurrence of the adjacent pair
    becomes one fused token — reporting per affected document the
    token count before/after and the number of merges. Iterating
    (candidates -> apply -> recount) trains the tokenizer; one
    application is the gradable unit.

    The rewrite runs on the space-joined token string with sentinel
    padding, so `REPLACE` gives both engines the identical greedy
    non-overlapping semantics (a run like "a a a" under pair "a a"
    merges once, leaving the trailing "a" — the BPE rule). Plan: the
    pair count reuses the merge-candidate shuffle, the winner
    broadcasts as a single row, and the rewrite is a map-only string
    pass — at 100 TB each BPE iteration costs one pair-vocabulary
    shuffle plus one scan, which is why production tokenizer
    training samples the corpus first (sample_stratified)."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.expr(TOKENS).alias("toks"))
    pairs_expr = (
        "CASE WHEN size(toks) >= 2 THEN"
        " zip_with(slice(toks, 1, size(toks) - 1),"
        " slice(toks, 2, size(toks) - 1), (x, y) -> concat(x, ' ', y))"
        " ELSE cast(array() as array<string>) END"
    )
    top1 = (
        toks.select(F.explode(F.expr(pairs_expr)).alias("pair"))
        .groupBy("pair")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.col("cnt").desc(), "pair")
        .limit(1)
        .select("pair")
    )
    applied = (
        toks.filter(F.size("toks") >= 2)
        .crossJoin(F.broadcast(top1))  # bcast: scalar
        .select(
            "doc_id",
            F.col("pair").alias("merged_pair"),
            F.size("toks").cast("bigint").alias("n_toks_before"),
            F.trim(
                F.expr(
                    "replace(' ' || array_join(toks, ' ') || ' ',"
                    " ' ' || pair || ' ',"
                    " ' ' || replace(pair, ' ', '_') || ' ')"
                )
            ).alias("merged"),
        )
    )
    n_after = F.size(
        F.filter(F.split(F.col("merged"), " "), lambda wd: wd != "")
    ).cast("bigint")
    return (
        applied.select(
            "doc_id",
            "merged_pair",
            "n_toks_before",
            n_after.alias("n_toks_after"),
            (F.col("n_toks_before") - n_after).alias("n_merges"),
        )
        .filter(F.col("n_merges") != 0)
    )


@register(
    "text_hashed_feature_vector",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, unnest({D_TOKENS}) AS w FROM documents
    )
    SELECT doc_id,
           {_d_h60("w")} % 32 AS bucket,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM t GROUP BY doc_id, bucket
    """,
)
def text_hashed_feature_vector(spark, sf_dir):
    """The hashing trick (Weinberger et al. 2009 / Vowpal Wabbit /
    fastText featurization): project every token into a FIXED 32-slot
    feature space by portable hash, emitting per-document sparse
    (bucket, count) features — the vocabulary-free vectorizer that
    needs no fitted dictionary, so featurizing 100 TB is one
    stateless pass (no vocab build, no broadcast, no OOV). Collisions
    are the accepted trade (two tokens sharing a slot), which is why
    the slot count is the capacity knob.

    The portable md5-h60 bucket makes the features themselves
    hash-graded (same md5 both engines — the hashutil contract).
    Plan: explode pipelines into one map-side-combined
    (doc, bucket)-keyed agg; output is bounded by docs x 32."""
    d = load_table(spark, sf_dir, "documents")
    t = d.select("doc_id", F.explode(F.expr(TOKENS)).alias("w"))
    return t.groupBy(
        "doc_id", (F.expr(_h60("w")) % 32).alias("bucket")
    ).agg(F.count("*").alias("cnt"))


@register(
    "sim_knn_filtered_vs_postfilter",
    oracle=f"""
    WITH qf AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    scored AS (
      SELECT e.vec_id, e.label,
             ROUND({_d_cosine('e.embedding', 'qf.qv')}, 6) AS cos_sim
      FROM embeddings e, qf, range(1, 65) r(i)
      WHERE e.vec_id <> 0
      GROUP BY e.vec_id, e.label
    ),
    pre AS (
      SELECT vec_id, label, cos_sim,
             CAST(ROW_NUMBER() OVER (ORDER BY cos_sim DESC, vec_id) AS BIGINT)
               AS rnk
      FROM scored WHERE label % 3 = 0
      ORDER BY cos_sim DESC, vec_id LIMIT 10
    ),
    unfiltered AS (
      SELECT vec_id, label FROM scored
      ORDER BY cos_sim DESC, vec_id LIMIT 10
    )
    SELECT p.rnk, p.vec_id, p.label, p.cos_sim,
           (u.vec_id IS NOT NULL) AS found_by_postfilter
    FROM pre p LEFT JOIN (SELECT vec_id FROM unfiltered WHERE label % 3 = 0) u
      ON u.vec_id = p.vec_id
    """,
)
def sim_knn_filtered_vs_postfilter(spark, sf_dir):
    """Attribute-filtered vector search — the named hard problem of
    every vector store: top-10 under a metadata predicate
    (label % 3 = 0, a stand-in for tenant/language/date filters) done
    the RIGHT way (pre-filter: score only qualifying vectors), with a
    per-row audit of whether post-filtering (take the UNFILTERED
    top-10, then apply the predicate) would have found it. Rows with
    found_by_postfilter = false are exactly the results a naive
    post-filter silently loses — the evidence for why selective
    filters must push INTO the index (IVF cells per filter value /
    filter-aware traversal) rather than truncate after it.

    Plan: broadcast probe, map-side fold cosine over the filtered
    scan (predicate pushed to parquet), TakeOrdered 10 both arms —
    two scans, no shuffle. At 100 TB the filtered arm reads only the
    predicate's partitions; the unfiltered audit arm is the one you
    delete in production."""
    e = load_table(spark, sf_dir, "embeddings")
    qf = e.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qv"), _norm(F.col("embedding")).alias("qn"))
    scored = (
        e.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qf))  # bcast: scalar
        .select(
            "vec_id",
            "label",
            _fold_cos6(F.col("embedding"), F.col("qv")).alias("cos_sim"),
        )
    )
    from pyspark.sql import Window

    pre = (
        scored.filter(F.col("label") % 3 == 0)
        .orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
        .withColumn(
            "rnk",
            F.row_number()
            .over(Window.orderBy(F.col("cos_sim").desc(), "vec_id"))
            .cast("bigint"),
        )
    )
    post = (
        scored.orderBy(F.col("cos_sim").desc(), "vec_id")
        .limit(10)
        .filter(F.col("label") % 3 == 0)
        .select(F.col("vec_id").alias("p_vec"))
    )
    return pre.join(post, pre.vec_id == post.p_vec, "left").select(
        "rnk",
        "vec_id",
        "label",
        "cos_sim",
        F.col("p_vec").isNotNull().alias("found_by_postfilter"),
    )


def _1bit_recall_oracle() -> str:
    return f"""
    WITH sh AS (
      SELECT doc_id, lang, source, {D_SHINGLES} AS shingles FROM documents
    ),
    sigs AS (
      SELECT doc_id, lang, source, shingles, {_portable_sig_duck()} AS sig
      FROM (SELECT doc_id, lang, source, shingles,
                   list_transform(shingles, sh -> {_d_h60('sh')} % 1048576) AS hs
            FROM sh WHERE len(shingles) > 0)
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           {d_round_ie("LEN(LIST_INTERSECT(a.shingles, b.shingles))::DOUBLE / LEN(LIST_DISTINCT(LIST_CONCAT(a.shingles, b.shingles)))", 6)}
             AS j_exact,
           CAST(len(list_filter(range(1, 17), s -> a.sig[s] = b.sig[s]))
                AS BIGINT) AS n_eq_sig,
           len(list_filter(range(1, 17), s -> a.sig[s] = b.sig[s])) / 16.0
             AS j_minhash_est,
           CAST(len(list_filter(range(1, 17), s -> a.sig[s] % 2 = b.sig[s] % 2))
                AS BIGINT) AS n_eq_bit,
           2.0 * (len(list_filter(range(1, 17),
                      s -> a.sig[s] % 2 = b.sig[s] % 2)) / 16.0) - 1.0
             AS j_1bit_est
    FROM sigs a JOIN sigs b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    WHERE LEN(LIST_INTERSECT(a.shingles, b.shingles))::DOUBLE /
          LEN(LIST_DISTINCT(LIST_CONCAT(a.shingles, b.shingles))) >= 0.7
    """


@register("dedup_minhash_1bit_recall", oracle=_1bit_recall_oracle())
def dedup_minhash_1bit_recall(spark, sf_dir):
    """b-bit MinHash (Li & Koenig 2010) accuracy audit, b=1: keep
    only the LOWEST bit of each of the 16 portable MinHash values —
    a further 20x signature compression on top of minhashing itself —
    and compare, on the exact-verified true near-dup pairs, three
    Jaccard views: the exact set Jaccard, the classic minhash
    estimate (matching permutations / 16), and the 1-bit estimate
    2*(matching bits/16) - 1 (bits agree with probability (1+J)/2:
    half their matches are hash luck, which the affine correction
    removes). The table shows what resolution survives at 1 bit —
    the storage story that lets a 100-TB dedup keep its signature
    matrix in RAM.

    All three estimates are exact dyadic rationals (k/16 and
    2k/16-1 are exact doubles; only the exact Jaccard carries a
    ROUND). Same truth-pair plan as dedup_lsh_recall_report: blocked
    join on (lang, source) with the size-ratio prefilter — never
    all-pairs."""
    d = load_table(spark, sf_dir, "documents")
    _assert_blocks_bounded(d, name="dedup_minhash_1bit_recall")
    base = with_shingles(d, "doc_id", "lang", "source", nonempty=True)
    hs_rows = base.select(
        "doc_id",
        F.explode(
            F.expr(f"transform(shingles, sh -> {_h60('sh')} % 1048576)")
        ).alias("h"),
    )
    sig_tbl = hs_rows.groupBy("doc_id").agg(
        *[
            F.min((F.col("h") * _LSH_A[s] + _LSH_B[s]) % 1048576).alias(f"_m{s}")
            for s in range(16)
        ]
    )
    sigs = (
        base.join(sig_tbl, "doc_id")
        .withColumn("sig", F.array(*[f"_m{s}" for s in range(16)]))
        .drop(*[f"_m{s}" for s in range(16)])
        .withColumn("n_sh", F.size("shingles"))
    )
    a, b = sigs.alias("a"), sigs.alias("b")
    size_ok = (
        F.least(F.col("a.n_sh"), F.col("b.n_sh"))
        / F.greatest(F.col("a.n_sh"), F.col("b.n_sh")).cast("double")
        >= 0.7
    )
    # staged intersect + arithmetic union (r12, same fix as
    # dedup_ngram_jaccard): the old jac fed both the 0.7 filter and
    # the j_exact output — two intersects and two union arrays/pair.
    scored = (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .filter(size_ok)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.sig").alias("sig_a"),
            F.col("b.sig").alias("sig_b"),
            # nopush (r13): one intersect per pair — see dedup_ngram_jaccard
            nopush(F.size(F.array_intersect("a.shingles", "b.shingles"))).alias("inter"),
            F.col("a.n_sh").alias("n_a"),
            F.col("b.n_sh").alias("n_b"),
        )
    )
    jac = F.col("inter") / (
        F.col("n_a") + F.col("n_b") - F.col("inter")
    ).cast("double")
    n_eq_sig = F.expr(
        "size(filter(sequence(0, 15), s ->"
        " element_at(sig_a, s + 1) = element_at(sig_b, s + 1)))"
    ).cast("long")
    n_eq_bit = F.expr(
        "size(filter(sequence(0, 15), s ->"
        " element_at(sig_a, s + 1) % 2 = element_at(sig_b, s + 1) % 2))"
    ).cast("long")
    return (
        scored.filter(jac >= 0.7)
        .select(
            "doc_a",
            "doc_b",
            round_ie(jac, 6).alias("j_exact"),
            n_eq_sig.alias("n_eq_sig"),
            (n_eq_sig / 16.0).alias("j_minhash_est"),
            n_eq_bit.alias("n_eq_bit"),
            (2.0 * (n_eq_bit / 16.0) - 1.0).alias("j_1bit_est"),
        )
    )


@register(
    "text_watermark_greenlist_score",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {D_TOKENS} AS t FROM documents WHERE len({D_TOKENS}) >= 2
    ),
    pairs AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(t)),
                    i -> CASE WHEN {_d_h60("t[i] || '|' || t[i+1]")} % 2 = 0
                         THEN 1 ELSE 0 END)) AS is_green
      FROM toks
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_scored,
           CAST(SUM(is_green) AS BIGINT) AS n_green,
           (ROUND((SUM(is_green) - COUNT(*) * 0.5)
                  / SQRT(COUNT(*) * 0.25), 6) + 0.0) AS z_score,
           (SUM(is_green) - COUNT(*) * 0.5) * (SUM(is_green) - COUNT(*) * 0.5)
             * 4 > CAST(4 * COUNT(*) AS BIGINT)
             AND SUM(is_green) * 2 > COUNT(*) AS watermark_suspect
    FROM pairs GROUP BY doc_id
    """,
)
def text_watermark_greenlist_score(spark, sf_dir):
    """LLM-output watermark detection (Kirchenbauer et al. 2023): a
    watermarking sampler biases each token toward a 'green list'
    seeded by the previous token's hash; the detector recomputes,
    for every (prev, cur) token pair, whether cur falls in prev's
    green half and z-tests the green fraction against the unbiased
    1/2. Human text scores ~0; watermarked text scores z >> 2. Run
    over a training corpus this is the contamination filter that
    keeps synthetic model output from feeding back into pretraining
    data — a first-class 100-TB curation concern.

    The green-list membership is the portable md5-h60 hash (both
    engines derive identical lists); the z statistic is a closed
    form over two integer counts, and the 2-sigma decision is an
    integer cross-multiply ((2g-n)^2 > 4n with g > n/2 — no float
    threshold). Plan: zip-shifted-slices pair stream explodes into
    one doc-keyed agg — scan-bound, no vocabulary state."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.expr(TOKENS).alias("t")).filter(F.size("t") >= 2)
    pair_h = _h60("element_at(t, i) || '|' || element_at(t, i + 1)")
    pairs = toks.select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(1, size(t) - 1), i ->"
                " CASE WHEN " + pair_h + " % 2 = 0 THEN 1 ELSE 0 END)"
            )
        ).alias("is_green"),
    )
    g = F.sum("is_green")
    n = F.count("*")
    return pairs.groupBy("doc_id").agg(
        n.cast("bigint").alias("n_scored"),
        g.cast("bigint").alias("n_green"),
        (F.round((g - n * 0.5) / F.sqrt(n * 0.25), 6) + F.lit(0.0)).alias("z_score"),
        (
            ((g - n * 0.5) * (g - n * 0.5) * 4 > (4 * n).cast("bigint"))
            & (g * 2 > n)
        ).alias("watermark_suspect"),
    )


@register(
    "text_phrase_search_positional",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {D_TOKENS} AS t FROM documents
    ),
    pos AS (
      SELECT doc_id, u.w AS w, u.pos AS pos
      FROM (SELECT doc_id,
                   unnest(list_transform(range(1, len(t) + 1),
                          i -> struct_pack(w := t[i], pos := i))) AS u
            FROM toks)
    )
    SELECT a.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_hits,
           MIN(a.pos) AS first_pos
    FROM pos a JOIN pos b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
    WHERE a.w = 'batch' AND b.w = 'stream'
    GROUP BY a.doc_id
    """,
)
def text_phrase_search_positional(spark, sf_dir):
    """Positional phrase query — the search-engine operation an
    inverted index with positions exists for (text_inverted_index
    stores the postings; this executes "batch stream" as a phrase,
    not a bag of words): match token positions p and p+1 within the
    same document via a positional self-join, returning per-doc hit
    counts and the first match offset.

    Plan: posexplode -> the two term postings lists join on
    (doc_id, adjacent position). Catalyst pushes the term filters
    BEFORE the join, so the join touches only the two terms'
    postings — exactly how a search engine intersects positional
    postings; at 100 TB the explode is replaced by reading the
    pre-built index table and the plan is unchanged from the join
    down."""
    d = load_table(spark, sf_dir, "documents")
    pos = d.select(
        "doc_id", F.posexplode(F.expr(TOKENS)).alias("i", "w")
    ).select("doc_id", (F.col("i") + 1).alias("pos"), "w")
    a = pos.filter(F.col("w") == "batch").alias("a")
    b = pos.filter(F.col("w") == "stream").alias("b")
    return (
        a.join(
            b,
            (F.col("b.doc_id") == F.col("a.doc_id"))
            & (F.col("b.pos") == F.col("a.pos") + 1),
        )
        .groupBy(F.col("a.doc_id").alias("doc_id"))
        .agg(
            F.count("*").cast("bigint").alias("n_hits"),
            F.min("a.pos").alias("first_pos"),
        )
    )


_FERTILITY_TOKEN_RE = "[a-z0-9]+|[^a-z0-9 ]"


@register(
    "text_tokenizer_fertility",
    oracle=f"""
    WITH per_doc AS (
      SELECT lang,
             CAST(len(list_filter(string_split(lower(text), ' '),
                                  w -> w <> '')) AS BIGINT) AS n_words,
             CAST(len(regexp_extract_all(lower(text),
                                         '{_FERTILITY_TOKEN_RE}'))
                  AS BIGINT) AS n_tokens
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_words) AS BIGINT) AS total_words,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST((SUM(n_tokens) * 1000000) // SUM(n_words) AS BIGINT)
             AS fertility_micro
    FROM per_doc
    WHERE n_words > 0
    GROUP BY lang
    """,
)
def text_tokenizer_fertility(spark, sf_dir):
    """Tokenizer fertility by language — tokens emitted per
    whitespace word, THE number a multilingual-corpus owner checks
    before fixing a token budget (a tokenizer that fragments one
    language 2x worse than another silently halves that language's
    effective context and doubles its training cost). The tokenizer
    here is the BPE-ish pre-tokenization regex (alnum runs |
    single punctuation, the same class split real byte-BPE
    pre-tokenizers use); fertility ships as an exact integer
    micro-ratio ((Σtokens·1e6) div Σwords — corpus-level, so
    short-doc noise doesn't skew it, and no double division can
    flip a bit cross-engine).

    Scale shape: both counts are per-row JVM regex/split work (one
    map stage, whole-stage codegen), then a lang-keyed hash agg
    that combines map-side to ~languages rows; nothing Python,
    nothing quadratic, no shuffle of raw text."""
    d = load_table(spark, sf_dir, "documents")
    lower = F.lower(F.col("text"))
    per_doc = d.select(
        "lang",
        F.size(F.filter(F.split(lower, " "), lambda w: w != "")).cast("bigint").alias("n_words"),
        F.size(F.regexp_extract_all(lower, F.lit(_FERTILITY_TOKEN_RE), 0))
        .cast("bigint")
        .alias("n_tokens"),
    ).filter(F.col("n_words") > 0)
    return per_doc.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("total_words"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.expr("(sum(n_tokens) * 1000000) div sum(n_words)")
        .cast("bigint")
        .alias("fertility_micro"),
    )


_PQ_SUB = 4        # subspaces
_PQ_SD = 16        # dims per subspace
_PQ_CODES = 16     # centroids per subspace (4-bit codes)
_PQ_QS = 64        # int grid scale for exactness
_PQ_K = 10         # top-k for recall
_PQ_CENT_KEY = "concat('pq-', s, '-', k, '-', j)"


@register(
    "sim_pq_adc_recall",
    oracle=f"""
    WITH vecs AS (
      SELECT vec_id,
             list_transform(embedding,
               v -> CAST(FLOOR(CAST(v AS DOUBLE) * {_PQ_QS} + 0.5) AS BIGINT))
               AS qv
      FROM embeddings
    ),
    cent AS (
      SELECT s, k,
             list_transform(range(1, {_PQ_SD + 1}), j ->
               (CAST('0x' || substring(md5('pq-' || s || '-' || k || '-' || j),
                                       1, 15) AS BIGINT) % 129) - 64) AS cvec
      FROM (SELECT unnest(range(0, {_PQ_SUB})) AS s),
           (SELECT unnest(range(0, {_PQ_CODES})) AS k)
    ),
    enc AS (
      SELECT vec_id, s, k,
             list_sum(list_transform(range(1, {_PQ_SD + 1}), j ->
               (qv[s * {_PQ_SD} + j] - cvec[j])
               * (qv[s * {_PQ_SD} + j] - cvec[j]))) AS dist
      FROM vecs, cent
    ),
    codes AS (
      SELECT vec_id, s, k AS code FROM (
        SELECT vec_id, s, k,
               ROW_NUMBER() OVER (PARTITION BY vec_id, s ORDER BY dist, k) AS rn
        FROM enc
      ) WHERE rn = 1
    ),
    qs AS (SELECT vec_id AS q_id, qv AS qqv FROM vecs
           WHERE vec_id % 50 = 0 AND vec_id < 500),
    dtab AS (
      SELECT q_id, s, k,
             list_sum(list_transform(range(1, {_PQ_SD + 1}), j ->
               (qqv[s * {_PQ_SD} + j] - cvec[j])
               * (qqv[s * {_PQ_SD} + j] - cvec[j]))) AS dt
      FROM qs, cent
    ),
    approx AS (
      SELECT d.q_id, c.vec_id, SUM(d.dt) AS adist
      FROM codes c JOIN dtab d ON c.s = d.s AND c.code = d.k
      WHERE c.vec_id <> d.q_id
      GROUP BY d.q_id, c.vec_id
    ),
    adc_topk AS (
      SELECT q_id, vec_id, rn FROM (
        SELECT q_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY adist, vec_id) AS rn
        FROM approx
      ) WHERE rn <= {_PQ_K}
    ),
    exact AS (
      SELECT q.q_id, v.vec_id,
             list_sum(list_transform(range(1, {_PQ_SUB * _PQ_SD + 1}), d ->
               (q.qqv[d] - v.qv[d]) * (q.qqv[d] - v.qv[d]))) AS edist
      FROM qs q, vecs v WHERE v.vec_id <> q.q_id
    ),
    exact_topk AS (
      SELECT q_id, vec_id, rn FROM (
        SELECT q_id, vec_id,
               ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY edist, vec_id) AS rn
        FROM exact
      ) WHERE rn <= {_PQ_K}
    ),
    ov AS (
      SELECT a.q_id, COUNT(*) AS n_overlap
      FROM adc_topk a JOIN exact_topk e
        ON a.q_id = e.q_id AND a.vec_id = e.vec_id
      GROUP BY a.q_id
    )
    SELECT q.q_id,
           CAST(COALESCE(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
           CAST(COALESCE(ov.n_overlap, 0) * 1000 AS BIGINT) AS recall_bp,
           (SELECT vec_id FROM adc_topk a WHERE a.q_id = q.q_id AND a.rn = 1)
             AS adc_top1,
           (SELECT vec_id FROM exact_topk e WHERE e.q_id = q.q_id AND e.rn = 1)
             AS exact_top1
    FROM qs q LEFT JOIN ov ON ov.q_id = q.q_id
    """,
)
def sim_pq_adc_recall(spark, sf_dir):
    """Product quantization with asymmetric distance computation —
    the memory side of every billion-vector ANN system (FAISS IVF-PQ
    style): each vector is compressed to 4 subspace codes (4 bits
    each = 2 bytes/vector vs 256 bytes raw), and queries score
    candidates by summing 4 PRECOMPUTED subspace-distance lookups
    (the ADC trick: the query-to-centroid table is built once per
    query, candidate scoring is pure table lookups — no float math
    per candidate at all). The report grades the compression:
    recall@10 of ADC ranking vs exact ranking per query, plus both
    top-1s.

    Exactness: vectors land on an integer grid (floor(v·64+½)) and
    codebooks are hash-derived integers in [−64, 64], so every
    distance — encoding, lookup table, exact baseline — is an
    integer sum of integer squares; both engines rank identical
    BIGINTs with identical (dist, id) tiebreaks. (Real PQ trains
    codebooks with k-means — `sim_kmeans_assign_step` grades that
    step; hash codebooks isolate THIS op's contract, the
    encode→table→lookup→recall pipeline, from training noise.)

    Scale shape: the codebook (64 rows) and per-query tables (640
    rows) broadcast; encoding is a map-side broadcast join + one
    (vec, subspace)-keyed argmin; candidate scoring touches only
    2-byte codes, never raw vectors — the exact reason PQ lets 100 TB
    of vectors serve from RAM. The exact baseline cross join exists
    only to GRADE recall and broadcasts 10 query rows — the
    verification harness, not the serving path. The probe panel is
    PINNED (vec_id < 500) so its size is constant at any corpus
    scale — with a proportional panel the grading side grows
    quadratically under replica stress (measured 223 s at x32 vs
    linear after pinning), while serving cost was always linear
    per query."""
    from pyspark.sql import Window
    from ..hashutil import h60 as _h

    e = load_table(spark, sf_dir, "embeddings")
    vecs = e.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda v: F.floor(v.cast("double") * _PQ_QS + F.lit(0.5)).cast("long"),
        ).alias("qv"),
    )
    cent = (
        spark.range(_PQ_SUB)
        .select(F.col("id").alias("s"))
        .crossJoin(spark.range(_PQ_CODES).select(F.col("id").alias("k")))
        .select(
            "s",
            "k",
            F.expr(
                f"transform(sequence(1, {_PQ_SD}), j -> "
                f"({_h(_PQ_CENT_KEY)} % 129) - 64)"
            ).alias("cvec"),
        )
    )
    sub_dist = (
        f"aggregate(zip_with(slice(qv, cast(s * {_PQ_SD} + 1 AS int), {_PQ_SD}),"
        f" cvec, (a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x)"
    )
    enc = vecs.crossJoin(F.broadcast(cent)).select(  # bcast: centroids
        "vec_id", "s", "k", F.expr(sub_dist).alias("dist")
    )
    w_enc = Window.partitionBy("vec_id", "s").orderBy("dist", "k")
    codes = (
        enc.withColumn("rn", F.row_number().over(w_enc))
        .filter(F.col("rn") == 1)
        .select("vec_id", "s", F.col("k").alias("code"))
    )
    qs = vecs.filter(
        (F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 500)
    ).select(
        F.col("vec_id").alias("q_id"), F.col("qv").alias("qqv")
    )
    dtab = (
        qs.withColumnRenamed("qqv", "qv")
        .crossJoin(F.broadcast(cent))  # bcast: centroids
        .select("q_id", "s", "k", F.expr(sub_dist).alias("dt"))
    )
    approx = (
        codes.join(
            F.broadcast(dtab),  # bcast: grid
            (codes.s == dtab.s) & (codes.code == dtab.k),
        )
        .filter(F.col("vec_id") != F.col("q_id"))
        .groupBy("q_id", "vec_id")
        .agg(F.sum("dt").alias("adist"))
    )
    w_adc = Window.partitionBy("q_id").orderBy("adist", "vec_id")
    adc_topk = (
        approx.withColumn("rn", F.row_number().over(w_adc))
        .filter(F.col("rn") <= _PQ_K)
        .select("q_id", "vec_id", "rn")
    )
    exact = (
        vecs.crossJoin(F.broadcast(qs))  # bcast: keys
        .filter(F.col("vec_id") != F.col("q_id"))
        .select(
            "q_id",
            "vec_id",
            F.expr(
                "aggregate(zip_with(qqv, qv, (a, b) -> (a - b) * (a - b)),"
                " 0L, (acc, x) -> acc + x)"
            ).alias("edist"),
        )
    )
    w_ex = Window.partitionBy("q_id").orderBy("edist", "vec_id")
    exact_topk = (
        exact.withColumn("rn", F.row_number().over(w_ex))
        .filter(F.col("rn") <= _PQ_K)
        .select("q_id", "vec_id", "rn")
    )
    ov = (
        adc_topk.alias("a")
        .join(
            exact_topk.alias("x"),
            (F.col("a.q_id") == F.col("x.q_id"))
            & (F.col("a.vec_id") == F.col("x.vec_id")),
        )
        .groupBy(F.col("a.q_id").alias("q_id"))
        .agg(F.count(F.lit(1)).alias("n_overlap"))
    )
    a1 = adc_topk.filter(F.col("rn") == 1).select(
        "q_id", F.col("vec_id").alias("adc_top1")
    )
    x1 = exact_topk.filter(F.col("rn") == 1).select(
        "q_id", F.col("vec_id").alias("exact_top1")
    )
    return (
        qs.select("q_id")
        .join(ov, "q_id", "left")
        .join(a1, "q_id", "left")
        .join(x1, "q_id", "left")
        .select(
            "q_id",
            F.coalesce("n_overlap", F.lit(0)).cast("bigint").alias("n_overlap"),
            (F.coalesce("n_overlap", F.lit(0)) * 1000)
            .cast("bigint")
            .alias("recall_bp"),
            "adc_top1",
            "exact_top1",
        )
    )


@register(
    "pipeline_mix_temperature_shares",
    oracle="""
    WITH src AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT) AS n_chars
      FROM documents GROUP BY source
    ),
    w AS (
      SELECT source, n_docs, n_chars,
             CAST(FLOOR(SQRT(CAST(n_chars AS DOUBLE))) AS BIGINT) AS w_int
      FROM src
    ),
    tot AS (
      SELECT SUM(n_chars) AS total_chars, SUM(w_int) AS total_w FROM w
    )
    SELECT source, n_docs, n_chars,
           CAST(n_chars * 10000 // total_chars AS BIGINT) AS raw_share_bps,
           CAST(w_int * 10000 // total_w AS BIGINT) AS t2_share_bps,
           CAST(w_int * 10000 // total_w
                - n_chars * 10000 // total_chars AS BIGINT) AS uplift_bps
    FROM w, tot
    """,
)
def pipeline_mix_temperature_shares(spark, sf_dir):
    """Temperature-scaled corpus mixing shares — the knob every
    multilingual / multi-source LLM recipe documents (mC4, XLM-R,
    LLaMA): sampling a source proportionally to size^(1/T) instead
    of size, here at T = 2 (√-scaling), which lifts small sources
    without letting any one dominate. The report: per source, raw
    byte share vs temperature share vs uplift, in exact basis
    points. The T = 2 weight is integerized at one deterministic
    point (floor of a per-row sqrt of an exact integer — the Neyman-
    allocation discipline), so both normalizing sums are
    order-independent BIGINT sums and the shares are exact integer
    divisions; no double ever crosses an aggregation.

    Scale shape: one map-side-combining hash agg to ~sources rows,
    one 1-row broadcast of the totals. Composes with
    `pipeline_mix_weighted` (which executes a configured mix) — this
    op DERIVES the config."""
    d = load_table(spark, sf_dir, "documents")
    src = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum(F.col("n_chars").cast("bigint")).cast("bigint").alias("n_chars"),
    )
    w = src.withColumn(
        "w_int", F.floor(F.sqrt(F.col("n_chars").cast("double"))).cast("bigint")
    )
    tot = w.agg(
        F.sum("n_chars").alias("total_chars"), F.sum("w_int").alias("total_w")
    )
    return w.crossJoin(F.broadcast(tot)).select(  # bcast: scalar
        "source",
        "n_docs",
        "n_chars",
        F.expr("n_chars * 10000 div total_chars").cast("bigint").alias("raw_share_bps"),
        F.expr("w_int * 10000 div total_w").cast("bigint").alias("t2_share_bps"),
        F.expr("w_int * 10000 div total_w - n_chars * 10000 div total_chars")
        .cast("bigint")
        .alias("uplift_bps"),
    )


_BLOOM_M = 1024  # bits in the prefilter
_BLOOM_K = 3     # hash functions


@register(
    "dedup_bloom_prefilter_audit",
    oracle=f"""
    WITH a AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0
    ),
    b AS (
      SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1
    ),
    a_bits AS (
      SELECT DISTINCT
        CAST('0x' || substring(md5(k || ':' || text), 1, 15) AS BIGINT)
          % {_BLOOM_M} AS bit
      FROM a, (SELECT unnest(range(0, {_BLOOM_K})) AS k)
    ),
    a_hashes AS (
      SELECT DISTINCT
        CAST('0x' || substring(md5(text), 1, 15) AS BIGINT) AS h
      FROM a
    ),
    b_exp AS (
      SELECT doc_id,
             CAST('0x' || substring(md5(k || ':' || text), 1, 15) AS BIGINT)
               % {_BLOOM_M} AS bit,
             CAST('0x' || substring(md5(text), 1, 15) AS BIGINT) AS h
      FROM b, (SELECT unnest(range(0, {_BLOOM_K})) AS k)
    ),
    b_probe AS (
      SELECT e.doc_id,
             CAST(COUNT(ab.bit) AS BIGINT) AS bits_set,
             MAX(CASE WHEN ah.h IS NOT NULL THEN 1 ELSE 0 END) AS is_true_dup
      FROM b_exp e
      LEFT JOIN a_bits ab ON ab.bit = e.bit
      LEFT JOIN a_hashes ah ON ah.h = e.h
      GROUP BY e.doc_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_probes,
           CAST(SUM(CASE WHEN bits_set = {_BLOOM_K} THEN 1 ELSE 0 END)
                AS BIGINT) AS maybe_dups,
           CAST(SUM(is_true_dup) AS BIGINT) AS true_dups,
           CAST(SUM(CASE WHEN bits_set = {_BLOOM_K} AND is_true_dup = 0
                         THEN 1 ELSE 0 END) AS BIGINT) AS false_positives,
           CAST(SUM(CASE WHEN bits_set = {_BLOOM_K} AND is_true_dup = 0
                         THEN 1 ELSE 0 END) * 10000 // COUNT(*) AS BIGINT)
             AS fp_bps
    FROM b_probe
    """,
)
def dedup_bloom_prefilter_audit(spark, sf_dir):
    """Bloom-prefiltered incremental dedup, audited — the standard
    two-tier pattern for deduplicating a NEW batch against a huge
    existing corpus: ship a tiny bloom filter of the corpus (here
    m = 1024 bits, k = 3 portable hashes — in production sized to
    ~10 bits/key), drop batch docs whose k bits aren't all set
    (definitely new — no corpus lookup at all), and send only
    'maybe' docs to the exact check. The audit grades the filter
    itself: probe count, maybe-rate, true duplicates (exact
    60-bit-hash membership), false positives, and the FP rate in
    basis points — the number that tells you whether m is sized
    right. On this fixture (no raw cross-half dups) every 'maybe'
    is a false positive, so fp_bps IS the measured saturation
    curve of a deliberately overloaded filter.

    Scale shape: the bloom bit-set is ≤ m DISTINCT rows however big
    the corpus is — THE point of the pattern: it broadcasts to every
    probe task; the probe side is a map-side explode (k rows/doc)
    + broadcast join + per-doc rollup. The exact-hash side is a
    broadcast semi-join against distinct corpus hashes, exercised
    here only to grade the filter's verdicts."""
    d = load_table(spark, sf_dir, "documents")
    a = d.filter(F.col("doc_id") % 2 == 0)
    b = d.filter(F.col("doc_id") % 2 == 1)
    ks = F.explode(F.sequence(F.lit(0), F.lit(_BLOOM_K - 1))).alias("k")
    bit_key = "concat(k, ':', text)"
    bit_expr = f"{_h60(bit_key)} % {_BLOOM_M}"
    a_bits = (
        a.select("text")
        .select(ks, "text")
        .select(F.expr(bit_expr).alias("bit"))
        .distinct()
    )
    a_hashes = a.select(F.expr(_h60("text")).alias("h")).distinct()
    b_exp = b.select("doc_id", "text").select("doc_id", "text", ks).select(
        "doc_id", F.expr(bit_expr).alias("bit"), F.expr(_h60("text")).alias("h")
    )
    probe = (
        b_exp.join(F.broadcast(a_bits.withColumnRenamed("bit", "abit")),  # bcast: grid
                   F.col("bit") == F.col("abit"), "left")
        .join(a_hashes.withColumnRenamed("h", "ah"),
              F.col("h") == F.col("ah"), "left")
        .groupBy("doc_id")
        .agg(
            F.count("abit").cast("bigint").alias("bits_set"),
            F.max(F.when(F.col("ah").isNotNull(), 1).otherwise(0)).alias("is_true_dup"),
        )
    )
    maybe = F.when(F.col("bits_set") == _BLOOM_K, 1).otherwise(0)
    fp = F.when((F.col("bits_set") == _BLOOM_K) & (F.col("is_true_dup") == 0), 1).otherwise(0)
    return probe.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_probes"),
        F.sum(maybe).cast("bigint").alias("maybe_dups"),
        F.sum("is_true_dup").cast("bigint").alias("true_dups"),
        F.sum(fp).cast("bigint").alias("false_positives"),
        F.expr(
            f"sum(CASE WHEN bits_set = {_BLOOM_K} AND is_true_dup = 0"
            " THEN 1 ELSE 0 END) * 10000 div count(*)"
        )
        .cast("bigint")
        .alias("fp_bps"),
    )


_SW_PROFILE = (
    "the a an and or of to in is it for on with as at by be this that are "
    "was from not have has had but will would can could"
).split()


@register(
    "text_stopword_profile",
    oracle=f"""
    WITH per_doc AS (
      SELECT source,
             len({D_TOKENS}) AS n_tokens,
             len(list_filter({D_TOKENS},
                 w -> list_contains({_SW_PROFILE!r}, w))) AS n_stop
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           CAST(SUM(n_stop) AS BIGINT) AS n_stop,
           CAST(SUM(n_stop) * 10000 // GREATEST(SUM(n_tokens), 1)
                AS BIGINT) AS stop_bps,
           CAST(SUM(CASE WHEN n_stop * 5 > n_tokens THEN 1 ELSE 0 END)
                AS BIGINT) AS n_docs_high_stop
    FROM per_doc GROUP BY source
    """,
)
def text_stopword_profile(spark, sf_dir):
    """Stopword-density profile per corpus source — the classic
    C4/CCNet-style quality signal: natural prose carries a stable
    share of function words, while boilerplate, navigation chrome,
    and generated keyword-stuffing text sit far off that band. A doc
    whose stopwords exceed 20 % of tokens (n_stop*5 > n_tokens) is
    counted as prose-like; the per-source bps ratio (exact integer
    cross-multiply) compares corpora for mixing decisions.

    Scale shape: the stopword count is a per-row array fold
    (filter over the shared whitespace tokenizer) — NO explode, so
    a billion-doc corpus never fans out to a token table; one
    map-side-combining hash agg to source rows ends the plan."""
    docs = load_table(spark, sf_dir, "documents")
    sw = ", ".join(f"'{w}'" for w in _SW_PROFILE)
    per_doc = docs.select(
        "source",
        F.expr(f"size({TOKENS})").alias("n_tokens"),
        F.expr(
            f"size(filter({TOKENS}, w -> array_contains(array({sw}), w)))"
        ).alias("n_stop"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("n_tokens"),
        F.sum("n_stop").cast("bigint").alias("n_stop"),
        F.expr(
            "CAST(SUM(n_stop) * 10000 div GREATEST(SUM(n_tokens), 1) AS BIGINT)"
        ).alias("stop_bps"),
        F.sum(F.when(F.col("n_stop") * 5 > F.col("n_tokens"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_docs_high_stop"),
    )


@register(
    "pipeline_filter_ablation_grid",
    oracle="""
    WITH flags AS (
      SELECT CAST(n_chars >= 150 AS BOOLEAN) AS pass_len,
             CAST(LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 >= 30
                  AS BOOLEAN) AS pass_words,
             CAST(lang = 'en' AS BOOLEAN) AS pass_lang,
             n_chars
      FROM documents
    ),
    g AS (
      SELECT pass_len, pass_words, pass_lang,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars
      FROM flags GROUP BY pass_len, pass_words, pass_lang
    )
    SELECT pass_len, pass_words, pass_lang, n_docs, total_chars,
           CAST((n_docs * 10000) // SUM(n_docs) OVER () AS BIGINT)
             AS share_bps
    FROM g
    """,
)
def pipeline_filter_ablation_grid(spark, sf_dir):
    """Quality-filter ablation grid — the 2^3 contingency table a
    data-curation team reads before composing cleaning filters:
    every document is scored against each candidate filter
    independently (length floor, word-count floor, language gate)
    and the corpus is partitioned by the full flag combination, so
    the table shows exactly what each filter removes that the others
    don't (the off-diagonal cells are the marginal value of each
    rule, the all-false cell is the hopeless tail). Counts and char
    budgets are exact integers; the share column is an integer
    basis-point division against the window total.

    Word count uses the separator-counting identity
    (len − len(remove(' ')) + 1) instead of split+size so the
    expression stays in whole-stage codegen with zero array
    allocation per row — the profile-guided idiom for hot text
    scans. Scale shape: one map-side-combinable agg to at most 8
    groups, then a window over those 8 rows — scan-dominated at any
    corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    flags = docs.select(
        (F.col("n_chars") >= 150).alias("pass_len"),
        (
            F.length("text") - F.length(F.regexp_replace("text", " ", "")) + 1
            >= 30
        ).alias("pass_words"),
        (F.col("lang") == "en").alias("pass_lang"),
        "n_chars",
    )
    g = flags.groupBy("pass_len", "pass_words", "pass_lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )
    from pyspark.sql import Window

    return g.select(
        "pass_len", "pass_words", "pass_lang", "n_docs", "total_chars",
        F.expr("(n_docs * 10000)")
        .cast("bigint")
        .alias("_num"),
        F.sum("n_docs").over(Window.partitionBy()).alias("_tot"),
    ).select(
        "pass_len", "pass_words", "pass_lang", "n_docs", "total_chars",
        F.expr("_num div _tot").cast("bigint").alias("share_bps"),
    )


@register(
    "text_js_divergence_vs_corpus",
    oracle=f"""
    WITH toks AS (
      SELECT source, UNNEST({D_TOKENS}) AS w FROM documents
    ),
    sw AS (
      SELECT source, w, CAST(COUNT(*) AS BIGINT) AS cs
      FROM toks GROUP BY source, w
    ),
    ns AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s FROM toks
      GROUP BY source
    ),
    cw AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c_w FROM toks GROUP BY w),
    nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_t FROM toks),
    grid AS (
      SELECT ns.source, ns.n_s, cw.w, cw.c_w, nt.n_t,
             COALESCE(sw.cs, 0) AS cs
      FROM ns CROSS JOIN cw CROSS JOIN nt
      LEFT JOIN sw ON sw.source = ns.source AND sw.w = cw.w
    ),
    terms AS (
      SELECT source, n_s, cs,
             CAST(FLOOR(1000000000.0 * (
               (0.5 * (CASE WHEN cs > 0 THEN
                  (CAST(cs AS DOUBLE) / CAST(n_s AS DOUBLE))
                  * LN((2.0 * (CAST(cs AS DOUBLE) / CAST(n_s AS DOUBLE)))
                       / ((CAST(cs AS DOUBLE) / CAST(n_s AS DOUBLE))
                          + (CAST(c_w AS DOUBLE) / CAST(n_t AS DOUBLE))))
                ELSE 0.0 END))
               + (0.5 * ((CAST(c_w AS DOUBLE) / CAST(n_t AS DOUBLE))
                  * LN((2.0 * (CAST(c_w AS DOUBLE) / CAST(n_t AS DOUBLE)))
                       / ((CAST(cs AS DOUBLE) / CAST(n_s AS DOUBLE))
                          + (CAST(c_w AS DOUBLE) / CAST(n_t AS DOUBLE))))))
             )) AS BIGINT) AS term_nano
      FROM grid
    )
    SELECT source, CAST(MAX(n_s) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN cs > 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS vocab_used,
           CAST(COUNT(*) AS BIGINT) AS vocab_total,
           CAST(SUM(term_nano) AS BIGINT) AS jsd_nano
    FROM terms GROUP BY source
    """,
)
def text_js_divergence_vs_corpus(spark, sf_dir):
    """Jensen-Shannon divergence of each source's unigram
    distribution from the whole-corpus distribution — the symmetric,
    always-finite drift metric curation teams prefer over KL for
    "which feed is stylistically off" (and the pairwise version is
    the standard corpus-mixing distance). The source-absent side is
    handled exactly: a word missing from the source contributes only
    the corpus half-term q·ln(2q/(p+q)) with p=0 (JS never divides
    by zero), which the full source × vocab grid materializes
    explicitly. Float discipline is the parkinson/markov-entropy
    contract: each grid cell's term is ONE double expression over
    exact BIGINT counts, floored to nano units (FLOOR truncates the
    occasional negative p-side term toward −∞ identically in both
    engines), and the per-source reduction is an order-proof BIGINT
    sum.

    Scale shape: token explosion feeds three hash aggs (source×word,
    source, word); the grid is |sources| × |vocab| — bounded by
    vocabulary, not corpus size. Only the FIXED side (per-source
    totals, enum domain) keeps a broadcast hint; the vocab side
    grows with the corpus (Heaps' law), so it is left to AQE
    (r11 hint audit); at web scale you'd cap vocab to the top-K words
    first (the standard practice), which drops in as one TakeOrdered
    before the grid."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(F.expr(TOKENS)).alias("w"))
    sw = toks.groupBy("source", "w").agg(
        F.count(F.lit(1)).cast("bigint").alias("cs")
    )
    ns = toks.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_s")
    )
    cw = toks.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("c_w"))
    nt = toks.agg(F.count(F.lit(1)).cast("bigint").alias("n_t"))
    grid = (
        cw.crossJoin(F.broadcast(ns))  # bcast: enum
        .crossJoin(F.broadcast(nt))  # bcast: scalar
        .join(sw, ["source", "w"], "left")
        .select(
            "source", "n_s", "w", "c_w", "n_t",
            F.coalesce(F.col("cs"), F.lit(0)).cast("bigint").alias("cs"),
        )
    )
    terms = grid.withColumn(
        "term_nano",
        F.expr(
            """
            CAST(FLOOR(1000000000.0 * (
              (0.5 * (CASE WHEN cs > 0 THEN
                 (CAST(cs AS DOUBLE) / CAST(n_s AS DOUBLE))
                 * LN((2.0 * (CAST(cs AS DOUBLE) / CAST(n_s AS DOUBLE)))
                      / ((CAST(cs AS DOUBLE) / CAST(n_s AS DOUBLE))
                         + (CAST(c_w AS DOUBLE) / CAST(n_t AS DOUBLE))))
               ELSE 0.0 END))
              + (0.5 * ((CAST(c_w AS DOUBLE) / CAST(n_t AS DOUBLE))
                 * LN((2.0 * (CAST(c_w AS DOUBLE) / CAST(n_t AS DOUBLE)))
                      / ((CAST(cs AS DOUBLE) / CAST(n_s AS DOUBLE))
                         + (CAST(c_w AS DOUBLE) / CAST(n_t AS DOUBLE))))))
            )) AS BIGINT)
            """
        ),
    )
    return terms.groupBy("source").agg(
        F.max("n_s").cast("bigint").alias("n_tokens"),
        F.sum(F.when(F.col("cs") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("vocab_used"),
        F.count(F.lit(1)).cast("bigint").alias("vocab_total"),
        F.sum("term_nano").cast("bigint").alias("jsd_nano"),
    )


@register(
    "text_heaps_law_fit",
    oracle=f"""
    WITH pts AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_tok,
             CAST(COUNT(DISTINCT w) AS BIGINT) AS vocab
      FROM (SELECT source, UNNEST({D_TOKENS}) AS w FROM documents)
      GROUP BY source
    ),
    xy AS (
      SELECT source,
             CAST(FLOOR(1000000.0 * LN(CAST(n_tok AS DOUBLE))) AS BIGINT)
               AS x,
             CAST(FLOOR(1000000.0 * LN(CAST(vocab AS DOUBLE))) AS BIGINT)
               AS y
      FROM pts
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * y) AS BIGINT) AS sxy,
             CAST(SUM(x * x) AS BIGINT) AS sx2
      FROM xy
    )
    SELECT n AS n_sources, sx, sy, sxy, sx2,
           ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE))
            - (CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
           / ((CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE))
              - (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) AS beta,
           CAST(FLOOR(1000000.0 *
             ((CAST(sy AS DOUBLE)
               - ((((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE))
                    - (CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
                   / ((CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE))
                      - (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))))
                  * CAST(sx AS DOUBLE)))
              / CAST(n AS DOUBLE)) / 1000000.0) AS BIGINT)
             AS ln_k_micro
    FROM m
    """,
)
def text_heaps_law_fit(spark, sf_dir):
    """Heaps'-law fit over the per-source (tokens, vocabulary)
    points — V = K·nᵝ, the vocabulary-growth exponent that predicts
    tokenizer OOV pressure as a corpus scales (the lexical-richness
    complement of text_zipf_fit's rank-frequency exponent). Each
    source contributes one log-log point; the logs are per-row
    doubles over exact BIGINTs floored to micro units FIRST (the
    parkinson contract — LN agrees cross-engine, the floor removes
    any residual risk from the regression inputs), and the OLS
    moments over the 20 floored points are exact BIGINTs. Both beta
    and the floored micro intercept (ln K, since the x/y micro
    scalings cancel in the slope and shift LN K by a constant the
    expression accounts for by dividing back) are single
    identically-parenthesized IEEE closed forms over those integers.

    Scale shape: one token explosion into a (source, word) hash agg
    then a 20-row regression — the heavy pass is the same shared
    tokenize scan every text op pays; the fit itself is
    metadata-scale."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select("source", F.explode(F.expr(TOKENS)).alias("w"))
    pts = toks.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tok"),
        F.countDistinct("w").cast("bigint").alias("vocab"),
    )
    xy = pts.select(
        "source",
        F.expr(
            "CAST(FLOOR(1000000.0 * LN(CAST(n_tok AS DOUBLE))) AS BIGINT)"
        ).alias("x"),
        F.expr(
            "CAST(FLOOR(1000000.0 * LN(CAST(vocab AS DOUBLE))) AS BIGINT)"
        ).alias("y"),
    )
    m = xy.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum((F.col("x") * F.col("y")).cast("decimal(38,0)"))
        .cast("long")
        .alias("sxy"),
        F.sum((F.col("x") * F.col("x")).cast("decimal(38,0)"))
        .cast("long")
        .alias("sx2"),
    )
    beta = """
        ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE))
         - (CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
        / ((CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE))
           - (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))
    """
    lnk = """
        CAST(FLOOR(1000000.0 *
          ((CAST(sy AS DOUBLE)
            - ((((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE))
                 - (CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)))
                / ((CAST(n AS DOUBLE) * CAST(sx2 AS DOUBLE))
                   - (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))))
               * CAST(sx AS DOUBLE)))
           / CAST(n AS DOUBLE)) / 1000000.0) AS BIGINT)
    """
    return m.select(
        F.col("n").alias("n_sources"), "sx", "sy", "sxy", "sx2",
        F.expr(beta).alias("beta"),
        F.expr(lnk).alias("ln_k_micro"),
    )


@register(
    "dedup_cluster_size_histogram",
    oracle=f"""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000, '>> ' || UPPER(text) FROM documents
      WHERE doc_id < 100
      UNION ALL
      SELECT doc_id + 2000000, UPPER(text) || ' !!' FROM documents
      WHERE doc_id < 50
    ),
    norm AS (
      SELECT doc_id, {_d_h60(_D_NORM_TEXT)} AS fp FROM corpus
    ),
    clusters AS (
      SELECT fp, CAST(COUNT(*) AS BIGINT) AS sz FROM norm GROUP BY fp
    )
    SELECT sz AS cluster_size,
           CAST(COUNT(*) AS BIGINT) AS n_clusters,
           CAST(SUM(sz) AS BIGINT) AS n_docs,
           CAST((SUM(sz) * 10000) // (SELECT COUNT(*) FROM corpus)
                AS BIGINT) AS corpus_share_bps
    FROM clusters GROUP BY sz
    """,
)
def dedup_cluster_size_histogram(spark, sf_dir):
    """Duplicate-cluster size histogram — the first chart of every
    dedup report: how much of the corpus lives in singletons vs
    pairs vs bigger near-dup families (the size distribution decides
    whether keep-one dedup saves 2% or 40% of tokens, and a heavy
    tail is the classic mirror-site signature). Clusters are the
    normalized-exact groups of dedup_text_normalized; the fixture
    has no raw duplicates, so the corpus is augmented in-query with
    two deterministic variant generations (first 100 docs get one
    case/punct variant, first 50 a second) producing known size-2
    and size-3 families. Counts and the basis-point corpus share
    are exact integers.

    Scale shape: digest → two nested hash aggs (cluster sizes, then
    the size histogram) — each strictly smaller than the last; the
    scalar corpus total broadcasts. Nothing pairwise anywhere."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    v1 = d.filter(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.lit(">> "), F.upper("text")).alias("text"),
    )
    v2 = d.filter(F.col("doc_id") < 50).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat(F.upper("text"), F.lit(" !!")).alias("text"),
    )
    corpus = d.unionAll(v1).unionAll(v2)
    # single-pass normalizer — same equivalence note as
    # dedup_text_normalized
    norm = F.trim(F.regexp_replace(F.lower(F.col("text")), "[^a-z0-9]+", " "))
    clusters = (
        corpus.select("doc_id", norm.alias("norm"))
        .select("doc_id", F.expr(_h60("norm")).alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).cast("bigint").alias("sz"))
    )
    total = corpus.agg(F.count(F.lit(1)).cast("bigint").alias("tot"))
    return (
        clusters.groupBy(F.col("sz").alias("cluster_size"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_clusters"),
            F.sum("sz").cast("bigint").alias("n_docs"),
        )
        .crossJoin(F.broadcast(total))  # bcast: scalar
        .select(
            "cluster_size", "n_clusters", "n_docs",
            F.expr("(n_docs * 10000) div tot")
            .cast("bigint")
            .alias("corpus_share_bps"),
        )
    )


@register(
    "text_mattr_diversity",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {D_TOKENS} AS t, len({D_TOKENS}) AS n_tok
      FROM documents
    )
    SELECT doc_id, CAST(n_tok AS BIGINT) AS n_tok,
           CAST(n_tok - 24 AS BIGINT) AS n_windows,
           CAST(list_sum(list_transform(range(1, n_tok - 23),
                i -> len(list_distinct(t[i:i+24])))) AS BIGINT)
             AS sum_distinct,
           CAST((list_sum(list_transform(range(1, n_tok - 23),
                 i -> len(list_distinct(t[i:i+24])))) * 1000000)
                // (25 * (n_tok - 24)) AS BIGINT) AS mattr_micro
    FROM toks WHERE n_tok >= 25
    """,
)
def text_mattr_diversity(spark, sf_dir):
    """MATTR lexical diversity per document — the moving-average
    type-token ratio (Covington & McFall 2010), the length-robust
    replacement for raw TTR every corpus-quality stack reports:
    average the distinct-token share over every 25-token sliding
    window. The per-window distinct counts are integers, their sum
    is an integer, and the mean ratio is one integer cross-multiplied
    division — exact, no floats at all (the denominator 25·windows
    clears the per-window /25). Documents shorter than one window
    are excluded by the same predicate in both engines (also keeping
    the window range generator away from the empty-sequence
    divergence documented for Spark sequence()).

    Scale shape: map-only — one array expression per row inside
    whole-stage codegen, no explode, no shuffle before the scan's
    natural output; cost is O(tokens · window) per document, the
    same budget as the shingle kernels."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.expr(TOKENS).alias("t"),
        F.size(F.expr(TOKENS)).alias("n_tok"),
    ).filter(F.col("n_tok") >= 25)
    sumd = (
        "aggregate(transform(sequence(1, n_tok - 24),"
        " i -> size(array_distinct(slice(t, i, 25)))),"
        " 0L, (acc, x) -> acc + x)"
    )
    return toks.select(
        "doc_id",
        F.col("n_tok").cast("bigint").alias("n_tok"),
        (F.col("n_tok") - 24).cast("bigint").alias("n_windows"),
        F.expr(sumd).cast("bigint").alias("sum_distinct"),
        F.expr(f"({sumd} * 1000000) div (25 * (n_tok - 24))")
        .cast("bigint")
        .alias("mattr_micro"),
    )


@register(
    "text_collocation_pmi",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {D_TOKENS} AS t, len({D_TOKENS}) AS n FROM documents
    ),
    bigrams AS (
      SELECT UNNEST(list_transform(range(1, n),
               i -> t[i] || ' ' || t[i+1])) AS bg
      FROM toks WHERE n >= 2
    ),
    bc AS (SELECT bg, CAST(COUNT(*) AS BIGINT) AS c_xy FROM bigrams
           GROUP BY bg),
    uni AS (
      SELECT UNNEST(t) AS w FROM toks
    ),
    uc AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS c_w FROM uni GROUP BY w),
    nn AS (
      SELECT CAST((SELECT COUNT(*) FROM uni) AS BIGINT) AS n_uni,
             CAST((SELECT COUNT(*) FROM bigrams) AS BIGINT) AS n_bi
    ),
    scored AS (
      SELECT bc.bg, bc.c_xy, u1.c_w AS c_x, u2.c_w AS c_y, nn.n_uni, nn.n_bi,
             CAST(FLOOR(1000000000.0 * LN(
               (CAST(bc.c_xy AS DOUBLE)
                * (CAST(nn.n_uni AS DOUBLE) * CAST(nn.n_uni AS DOUBLE)))
               / (CAST(nn.n_bi AS DOUBLE)
                  * (CAST(u1.c_w AS DOUBLE) * CAST(u2.c_w AS DOUBLE)))))
               AS BIGINT) AS pmi_nano
      FROM bc
      JOIN uc u1 ON u1.w = string_split(bc.bg, ' ')[1]
      JOIN uc u2 ON u2.w = string_split(bc.bg, ' ')[2]
      CROSS JOIN nn
      WHERE bc.c_xy >= 5
    )
    SELECT bg AS bigram, c_xy, c_x, c_y, pmi_nano
    FROM scored
    ORDER BY pmi_nano DESC, bg
    LIMIT 50
    """,
)
def text_collocation_pmi(spark, sf_dir):
    """Collocation extraction by pointwise mutual information — the
    classic 'which word pairs belong together' statistic (Church &
    Hanks): PMI = ln(p(xy) / (p(x)p(y))) over adjacent-token
    bigrams, with a minimum-support cut (c ≥ 5) because PMI famously
    explodes on hapax pairs. All counts are exact BIGINTs well under
    2^53, so the single LN argument is an exactly-representable
    double ratio and the nano-floored score is bit-identical
    cross-engine (the parkinson LN contract); top-50 by (score,
    bigram) with a total tie-break.

    Scale shape: one array transform per row builds bigrams inside
    codegen, two hash aggs count bigrams and unigrams, the unigram
    table broadcasts onto the bigram table (vocabulary-scale), and
    TakeOrdered emits the top-50 — no global sort."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.expr(TOKENS).alias("t"), F.size(F.expr(TOKENS)).alias("n")
    )
    bigrams = toks.filter(F.col("n") >= 2).select(
        F.explode(
            F.expr(
                "transform(sequence(1, n - 1),"
                " i -> concat(element_at(t, i), ' ', element_at(t, i + 1)))"
            )
        ).alias("bg")
    )
    bc = bigrams.groupBy("bg").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_xy")
    )
    uni = toks.select(F.explode("t").alias("w"))
    uc = uni.groupBy("w").agg(F.count(F.lit(1)).cast("bigint").alias("c_w"))
    nn = uni.agg(F.count(F.lit(1)).cast("bigint").alias("n_uni")).crossJoin(
        bigrams.agg(F.count(F.lit(1)).cast("bigint").alias("n_bi"))
    )
    u1 = uc.select(F.col("w").alias("w1"), F.col("c_w").alias("c_x"))
    u2 = uc.select(F.col("w").alias("w2"), F.col("c_w").alias("c_y"))
    scored = (
        bc.filter(F.col("c_xy") >= 5)
        .withColumn("w1", F.expr("split(bg, ' ')[0]"))
        .withColumn("w2", F.expr("split(bg, ' ')[1]"))
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(nn))  # bcast: scalar
        .withColumn(
            "pmi_nano",
            F.expr(
                """
                CAST(FLOOR(1000000000.0 * LN(
                  (CAST(c_xy AS DOUBLE)
                   * (CAST(n_uni AS DOUBLE) * CAST(n_uni AS DOUBLE)))
                  / (CAST(n_bi AS DOUBLE)
                     * (CAST(c_x AS DOUBLE) * CAST(c_y AS DOUBLE)))))
                  AS BIGINT)
                """
            ),
        )
    )
    return (
        scored.select(
            F.col("bg").alias("bigram"), "c_xy", "c_x", "c_y", "pmi_nano"
        )
        .orderBy(F.col("pmi_nano").desc(), "bigram")
        .limit(50)
    )
