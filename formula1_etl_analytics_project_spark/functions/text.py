"""Text-analysis expression library for the ``documents`` table.

Engine extras beyond the reference surface (SURVEY.md M6): the
operations a large-scale training-data pipeline needs, each built from
native expressions so they stay JVM-side and portable to the DuckDB
oracle (hash functions are md5-based because md5 is identical across
engines; Spark's murmur3 ``hash()`` is not).

Scale notes: everything here is a narrow per-row projection - no
shuffle, fully pipeline-able inside one codegen stage over a 100 TB
scan. Shingling explodes rows (x n_shingles) which is why the dedup
operators aggregate back to signatures immediately (operators.dedup).
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# Tiny embedded stopword list - a deterministic heuristic, not a model.
EN_STOPWORDS = (
    "the", "a", "an", "and", "or", "of", "to", "in", "is", "it",
    "that", "for", "on", "with", "as", "was", "at", "by", "be",
    "this", "are", "from", "but", "not", "have", "had", "has",
)


def normalize(col: Column | str) -> Column:
    """Whitespace-collapsed, lowercased, trimmed text - the canonical
    form used by fingerprinting and shingling."""
    c = F.col(col) if isinstance(col, str) else col
    return F.lower(F.trim(F.regexp_replace(c, r"\s+", " ")))


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization -> array<string> (empty tokens dropped)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(F.trim(c), r"\s+"), lambda x: x != "")


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def word_tokens(col: Column | str) -> Column:
    """BPE-ish regex tokenization: letter runs, digit runs, and single
    punctuation marks each become a token (training-data token
    accounting)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(
        F.split(F.regexp_replace(F.lower(c), r"([^a-z0-9\s]|[0-9]+)", r" $1 "), r"\s+"),
        lambda x: x != "",
    )


def stopword_ratio(col: Column | str) -> Column:
    toks = F.transform(tokens(col), lambda x: F.lower(x))
    stop = F.size(F.filter(toks, lambda x: x.isin(*EN_STOPWORDS)))
    return F.when(F.size(toks) > 0, stop / F.size(toks)).otherwise(F.lit(0.0))


def punct_ratio(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c)
    punct = n - F.length(F.regexp_replace(c, r"[^\w\s]", ""))
    return F.when(n > 0, punct.cast("double") / n).otherwise(F.lit(0.0))


def quality_score(col: Column | str) -> Column:
    """Heuristic document-quality score in [0,1]: rewards mid-length
    docs with prose-like stopword density and low punctuation noise.
    Deterministic and SQL-portable (oracle twin in plans.catalog).
    """
    c = F.col(col) if isinstance(col, str) else col
    length_score = F.least(F.length(c) / F.lit(500.0), F.lit(1.0))
    stop_score = F.least(stopword_ratio(c) * 4, F.lit(1.0))
    punct_penalty = F.least(punct_ratio(c) * 5, F.lit(1.0))
    return F.round(
        length_score * 0.4 + stop_score * 0.4 + (1 - punct_penalty) * 0.2, 6
    )


def lang_guess(col: Column | str) -> Column:
    """Stopword-vote language ID: 'en' when English stopword density
    clears a threshold, else 'other'. A real pipeline would swap in a
    fastText-style model via pandas UDF; the Spark-side plumbing
    (projection, no shuffle) is identical."""
    return F.when(stopword_ratio(col) >= 0.08, F.lit("en")).otherwise(F.lit("other"))


def fingerprint(col: Column | str) -> Column:
    """Deterministic document fingerprint: md5 of the normalized text.
    md5 (not murmur3 hash()) so the DuckDB oracle reproduces it."""
    return F.md5(normalize(col))


def shingles(col: Column | str, k: int = 3) -> Column:
    """Distinct k-token shingles of the normalized text -> array<string>.
    The unit set for minhash / Jaccard dedup (operators.dedup)."""
    toks = tokens(normalize(col))
    n = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.when(
        n >= k,
        F.array_distinct(
            F.transform(idx, lambda i: F.array_join(F.slice(toks, i + 1, k), " "))
        ),
    ).otherwise(F.array(F.array_join(toks, " ")))


def hashed_feature(col: Column | str) -> Column:
    """Hashing-trick feature index for one token: md5 low 60 bits mod
    64. The featurizer needs NO vocabulary pass - the index is a
    pure function of the token - which is the property that makes it
    the scale answer: a 100 TB corpus vectorizes in one narrow
    projection with zero shuffles and no driver-side dictionary,
    where a vocab-indexed featurizer needs a global distinct+join
    first. md5 (not murmur3 ``hash()``) keeps it restatable in the
    DuckDB oracle (``('0x'||substr(md5(t),1,15))::BIGINT % 64``)."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long") % 64
    ).alias("feat_idx")
