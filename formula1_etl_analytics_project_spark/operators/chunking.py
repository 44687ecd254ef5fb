"""Content-defined chunking (FastCDC/rsync-style, over tokens).

A chunk boundary falls after token p whenever the md5 of the 5-gram
ending at p hits 0 mod ``mod`` - a pure function of LOCAL content, so
an edit perturbs only the chunks it touches: everything after the
first boundary past the edit re-aligns exactly (the property
fixed-size chunking lacks, and the reason CDC is the storage-dedup /
shifted-near-dup primitive). Property-tested in
tests/test_cdc_chunking.py: prepending tokens to a document leaves
every chunk after the first post-edit boundary signature-identical.

Scale shape: one posexplode, one per-document window cumsum
(partitioned by the doc id - never a global window), one
(doc, chunk) hash-agg emitting 16-byte signatures. Chunk text never
shuffles beyond its own document's partition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F

GRAM = 5  # rolling-window width in tokens


def _gram_key(toks: Column, p0: Column) -> Column:
    """60-bit md5 key of the 5-gram ending at 0-based position p0.

    The slice start is clamped to 1: callers only consume the key
    under a ``p0 + 1 >= GRAM`` guard, but Spark's slice() throws on a
    start of 0, and relying on conjunct short-circuit order for
    validity is a refactoring landmine (any hoist of this expression
    into its own column would evaluate it unguarded)."""
    return F.conv(
        F.substring(
            F.md5(
                F.array_join(
                    F.slice(
                        toks,
                        F.greatest(F.lit(1), p0 - (GRAM - 2)),
                        GRAM,
                    ),
                    " ",
                )
            ),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")


def content_defined_chunks(df: DataFrame, mod: int = 16) -> DataFrame:
    """(doc_id, chunk_id, chunk_len, sig) for each token-array document.

    ``df`` carries one row per ``doc_id`` with an ``array<string>``
    column ``toks`` (plus any passthrough columns, which are kept
    on the output grouped by their per-document value). Expected chunk
    length is ``mod`` tokens. The final token never ends a chunk early
    (a boundary at the last position would produce an empty chunk).
    """
    passthrough = [c for c in df.columns if c not in ("doc_id", "toks")]
    pos = df.select(
        "doc_id",
        *passthrough,
        F.size("toks").alias("_n"),
        F.col("toks").alias("_toks"),
        F.posexplode("toks").alias("_p0", "tok"),
    ).select(
        "doc_id",
        *passthrough,
        (F.col("_p0") + 1).alias("p"),
        "tok",
        F.when(
            (F.col("_p0") + 1 >= GRAM)
            & (F.col("_p0") + 1 < F.col("_n"))
            & (_gram_key(F.col("_toks"), F.col("_p0")) % mod == 0),
            1,
        )
        .otherwise(0)
        .alias("boundary"),
    )
    w = (
        Window.partitionBy("doc_id")
        .orderBy("p")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    chunked = pos.withColumn(
        "chunk_id", F.coalesce(F.sum("boundary").over(w), F.lit(0))
    )
    return chunked.groupBy("doc_id", *passthrough, "chunk_id").agg(
        F.count("*").alias("chunk_len"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("p", "tok"))),
                    lambda s: s["tok"],
                ),
                " ",
            )
        ).alias("sig"),
    )
