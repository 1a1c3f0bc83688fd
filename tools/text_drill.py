"""Text-shape drill — strict parity on documents with degenerate
text (r9; the sixth adversarial axis: tokenizer edges).

Every text operator tokenizes with the same split-on-space +
drop-empties convention on both engines, then divides by token
counts, shingles, windows, and fingerprints the stream. The
fixture's generated prose never exercises the edges of that
convention: empty text, whitespace-only text, a single token,
doubled/leading/trailing separators, or case extremes. Each is one
regen (or one real-world corpus) away, and each lands exactly where
the sparsity drill found its classes — zero-token denominators
(ANSI throw vs NULL), empty shingle arrays, one-token n-gram
windows.

The drill rewrites documents.text per doc_id residue class
(deterministic, ~1/3 of docs mutated; n_chars recomputed so the
column contract holds) and runs the full strict parity sweep:

  residue 0   -> ''                    (empty text)
  residue 1   -> '   '                 (whitespace only)
  residue 2   -> 'x'                   (single 1-char token)
  residue 3   -> 'a b'                 (exactly two tokens)
  residue 4   -> doubled spaces        (empty split fragments)
  residue 5   -> ' text '              (leading/trailing space)
  residue 6   -> UPPER(text)           (case handling)
  others      -> unchanged

Usage: python tools/text_drill.py [src_sf_dir] [name_filter ...]
Default: /root/testdata/sf0.01 (driver grading SF), full registry.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, ".")

from pyspark.sql import functions as F

from hbase_support_spark import get_spark
from hbase_support_spark.io import TABLES, load_table
from tools.run_parity import sweep


def build(spark, src: str, dst: str) -> None:
    """Write the text-mutated copy of every fixture table."""
    os.makedirs(dst, exist_ok=True)
    for t in TABLES:
        out = os.path.join(dst, f"{t}.parquet")
        if os.path.exists(out):
            continue
        df = load_table(spark, src, t)
        if t == "documents":
            r = F.col("doc_id") % 17
            text = (
                F.when(r == 0, F.lit(""))
                .when(r == 1, F.lit("   "))
                .when(r == 2, F.lit("x"))
                .when(r == 3, F.lit("a b"))
                .when(r == 4, F.regexp_replace("text", " ", "  "))
                .when(r == 5, F.concat(F.lit(" "), F.col("text"), F.lit(" ")))
                .when(r == 6, F.upper("text"))
                .otherwise(F.col("text"))
            )
            df = df.withColumn("text", text).withColumn(
                "n_chars", F.length("text").cast("long")
            )
        df.coalesce(2).write.mode("overwrite").parquet(out + ".tmp")
        os.rename(out + ".tmp", out)


def main() -> None:
    src = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    names = sys.argv[2:]
    spark = get_spark("text-drill", master="local[8]", shuffle_partitions=8)
    dst = os.path.abspath(
        ".scratch/textdrill_" + os.path.basename(os.path.normpath(src))
    )
    build(spark, src, dst)
    if sweep(spark, dst, names, "degenerate-text data"):
        sys.exit(1)


if __name__ == "__main__":
    main()
