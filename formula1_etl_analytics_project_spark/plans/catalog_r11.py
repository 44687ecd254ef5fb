"""Round-11 catalog entries (round 4) - 3 entries:

* `bloom_moved_key_probe` - the per-partition key Bloom index
  (operators/bloom_index.py, a sidecar-only moved-key probe; the
  partitioned upsert itself checks exactly, see SCALING.md "Moved-key
  check at scale") exercised end-to-end in the gate: stage a
  year-partitioned orders snapshot + its filter sidecar, probe an
  incoming batch of cross-partition movers and brand-new inserts, and
  return the CONFIRMED moved keys. The result is provably exact (no
  false negatives by Bloom's guarantee, no false positives because
  stage 3 verifies with a partition-pruned exact scan), so the DuckDB
  oracle is simply the true moved-key set - an approximate index whose
  output is gate-checkable without tolerance.
* `bpe_merge_step` - one iteration of BPE tokenizer training: the
  weighted adjacent-symbol-pair counts whose argmax is the merge. The
  scale insight the entry pins: BPE trains on the WORD-FREQUENCY
  table, not the token stream - the heavy explode runs over the
  vocabulary (bounded), the corpus only contributes a word-count
  aggregation whose shuffle the map side collapses.
* `bigram_lm_score` - add-1-smoothed bigram-LM mean NLL per document
  (the CCNet-style quality filter one order up from
  `unigram_logprob_score`): train the LM on the corpus itself, score
  each doc by -(1/n) sum ln((c(w1 w2)+1) / (c(w1)+V)).

Portability rules as in plans/catalog.py: exact integer counts feed
deterministic double terms, each cast to DECIMAL before accumulation,
ROUND(x, 6) on compared floats, unique-key tie-breaks under LIMIT.

Importing this module registers everything into catalog.CATALOG.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

from formula1_etl_analytics_project_spark.functions.text import tokens
from formula1_etl_analytics_project_spark.plans.catalog import _register
from formula1_etl_analytics_project_spark.plans.catalog_ext import _stage_dir
from formula1_etl_analytics_project_spark.sources.readers import read_table

# ===========================================================================
# Bloom moved-key probe (operators/bloom_index.py in the gate)
# ===========================================================================

_BLOOM_PROBE_SQL = """
WITH yr AS (
  SELECT o_orderkey, EXTRACT(year FROM o_orderdate) AS y FROM orders
), mx AS (
  SELECT MAX(y) AS m FROM yr
)
SELECT o_orderkey,
       CAST(m + 1 AS INTEGER) AS o_year,
       CAST(y AS INTEGER) AS suspect_partition
FROM yr CROSS JOIN mx
WHERE o_orderkey % 97 = 0
"""


@_register(
    "bloom_moved_key_probe",
    _BLOOM_PROBE_SQL,
    gate_priority=True,
)
def q_bloom_moved_key_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Moved-key detection via the per-partition key Bloom sidecar.

    Stages orders partitioned by order year with its per-partition key
    Bloom index (one-time per testdata fingerprint; the probe is
    read-only so the stage is reused across calls), then probes an
    incoming batch that claims a BRAND-NEW partition (max year + 1):
    every 97th orderkey (a true cross-partition move - the key lives
    under its real year) plus a slab of never-seen keys (honest
    inserts). The entry returns the confirmed movers with their
    incoming and suspect partitions.

    Why this is oracle-checkable even though Bloom filters are
    approximate: the probe pipeline has NO false negatives (a set
    member's bits are always set) and NO false positives in its output
    (stage 3 re-checks every candidate against a partition-PRUNED
    exact scan), so the result equals the exact moved-key relation -
    which is what the DuckDB twin computes directly from orders. The
    inserts land in the result of stage 1 only at the filter's FPP and
    are then cleared exactly.

    Shape at 100 TB: the probe reads the filter sidecar (~1.8 B/key),
    never the table; the one exact scan is pruned to the suspect
    partitions. See SCALING.md "Moved-key check at scale".
    """
    from formula1_etl_analytics_project_spark.operators import (
        bloom_index as bi,
    )
    from formula1_etl_analytics_project_spark.sources.sinks import (
        write_parquet,
    )

    keys = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.year("o_orderdate").alias("o_year")
    )
    snap = os.path.join(_stage_dir(sf_dir, "bloomidx", "orders"), "snap")
    if bi.read_meta(spark, snap) is None:
        write_parquet(keys, snap, partition_by=["o_year"])
        n = keys.count()
        n_parts = keys.select("o_year").distinct().count()
        bi.build_key_bloom_index(
            spark, snap, ["o_orderkey"], "o_year",
            expected_keys_per_partition=max(64, 2 * n // n_parts),
            fpp=0.001,
        )
    new_year = keys.agg(F.max("o_year") + 1).collect()[0][0]
    movers = keys.filter(F.col("o_orderkey") % 97 == 0).select(
        "o_orderkey", F.lit(new_year).cast("int").alias("o_year")
    )
    inserts = keys.limit(500).select(
        (F.col("o_orderkey") + 1_000_000_000).alias("o_orderkey"),
        F.lit(new_year).cast("int").alias("o_year"),
    )
    incoming = movers.unionByName(inserts)
    return bi.probe_moved_keys(
        spark, snap, incoming, ["o_orderkey"], "o_year"
    )


# ===========================================================================
# One BPE training iteration: weighted symbol-pair counts
# ===========================================================================

_BPE_MERGE_SQL = r"""
WITH w AS (
  SELECT UNNEST(list_filter(string_split_regex(trim(text), '\s+'),
                            x -> x <> '')) AS word
  FROM documents
), wc AS (
  SELECT word, COUNT(*) AS c FROM w GROUP BY word
), p AS (
  SELECT substr(word, i, 2) AS pair, c
  FROM wc, UNNEST(range(1, len(word))) AS t(i)
  WHERE len(word) >= 2
)
SELECT pair, CAST(SUM(c) AS BIGINT) AS n_occurrences
FROM p GROUP BY pair
ORDER BY n_occurrences DESC, pair
LIMIT 20
"""


@_register(
    "bpe_merge_step",
    _BPE_MERGE_SQL,
    gate_priority=True,
    bench=True,
)
def q_bpe_merge_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One iteration of BPE tokenizer training: corpus-frequency-
    weighted adjacent character-pair counts; the top row is the merge
    the iteration would apply (top 20 returned, count desc with the
    pair itself as total tie-break).

    The scale property worth pinning: BPE trains on the WORD-FREQUENCY
    dictionary, never the raw token stream. The corpus contributes one
    explode + map-side-combined word count (shuffle = per-partition
    vocabularies); the per-character explode - quadratic-ish in word
    length - runs over the DISTINCT vocabulary, which is sublinear in
    corpus size (Heaps' law), with each pair weighted by the word's
    count. At 100 TB the vocab table is GBs while the corpus is TBs -
    this shape keeps every later merge iteration priced at vocab
    scale too (`bpe_token_counts` covers the apply side; this is the
    train side).

    Pairs are 2-char substrings (iteration 0 of the merge loop: every
    symbol is one char), identical in both engines via explicit
    1-based substr over explicit index ranges - no empty-pattern
    regex splits, whose edge behavior differs across engines.
    """
    docs = read_table(spark, sf_dir, "documents", spread=True)
    wc = (
        docs.select(F.explode(tokens("text")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("c"))
    )
    pairs = (
        wc.filter(F.length("word") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, length(word) - 1),"
                    " i -> substring(word, i, 2))"
                )
            ).alias("pair"),
            "c",
        )
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("c").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), "pair")
        .limit(20)
    )


# ===========================================================================
# Bigram LM quality score (add-1 smoothing)
# ===========================================================================

_BIGRAM_LM_SQL = r"""
WITH tok AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'),
                     x -> x <> '') AS ts
  FROM documents
), uni AS (
  SELECT UNNEST(ts) AS w FROM tok
), uc AS (
  SELECT w, COUNT(*) AS cu FROM uni GROUP BY w
), vocab AS (
  SELECT COUNT(*) AS v FROM uc
), bgp AS (
  SELECT doc_id, ts[i] AS p, ts[i] || chr(31) || ts[i + 1] AS b
  FROM tok, UNNEST(range(1, len(ts))) AS t(i)
  WHERE len(ts) >= 2
), dbc AS (
  SELECT doc_id, p, b, COUNT(*) AS c FROM bgp GROUP BY doc_id, p, b
), gbc AS (
  SELECT b, SUM(c) AS cb FROM dbc GROUP BY b
)
SELECT d.doc_id,
       CAST(SUM(d.c) AS BIGINT) AS n_bigrams,
       ROUND(CAST(SUM(CAST(
           d.c * -ln((CAST(g.cb AS DOUBLE) + 1.0)
                     / (CAST(u.cu AS DOUBLE) + CAST(x.v AS DOUBLE)))
           AS DECIMAL(38,12))) AS DOUBLE)
         / CAST(SUM(d.c) AS DOUBLE), 6) AS mean_nll_bigram
FROM dbc d
JOIN gbc g USING (b)
JOIN uc u ON d.p = u.w
CROSS JOIN vocab x
GROUP BY d.doc_id
"""


@_register(
    "bigram_lm_score",
    _BIGRAM_LM_SQL,
    gate_priority=True,
)
def q_bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Add-1-smoothed bigram-LM mean negative log-likelihood per
    document - `unigram_logprob_score` one Markov order up, which is
    what CCNet-class corpus filters actually deploy (a doc of
    individually-common words in nonsense ORDER scores fine under a
    unigram LM and badly here). p(w2 | w1) = (c(w1 w2) + 1) /
    (c(w1) + V); docs with fewer than two tokens drop out (no
    bigrams), consistently in both engines via the empty explode.

    Determinism: exact integer counts on both sides of the division,
    ln() on identical doubles, every c*ln(p) term decimal-cast so the
    per-doc accumulation is order-independent.

    Shape at 100 TB: one ordered-bigram explode (positions made
    explicit - NOT a self-join of the token table, which would shuffle
    the corpus twice), a bigram-keyed join against the LM table and a
    token-keyed join against the unigram table (both hash joins on
    8-byte-hashable keys), the 1-row vocab size broadcast. In a real
    pipeline the LM trains on a held-out slice and both LM sides
    broadcast; here they are corpus-derived so the join IS the
    broadcast once AQE sees their size.
    """
    docs = read_table(spark, sf_dir, "documents", spread=True)
    toks = docs.select("doc_id", tokens("text").alias("ts"))
    uc = (
        toks.select(F.explode("ts").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("cu"))
    )
    vocab = uc.agg(F.count("*").alias("v"))
    bgp = toks.filter(F.size("ts") >= 2).select(
        "doc_id",
        F.explode(
            F.expr(
                "transform(sequence(0, size(ts) - 2),"
                " i -> struct(ts[i] AS p,"
                " concat(ts[i], chr(31), ts[i + 1]) AS b))"
            )
        ).alias("x"),
    ).select("doc_id", "x.p", "x.b")
    dbc = bgp.groupBy("doc_id", "p", "b").agg(F.count("*").alias("c"))
    gbc = dbc.groupBy("b").agg(F.sum("c").alias("cb"))
    prob = (F.col("cb").cast("double") + F.lit(1.0)) / (
        F.col("cu").cast("double") + F.col("v").cast("double")
    )
    term = (F.col("c") * -F.log(prob)).cast("decimal(38,12)")
    return (
        dbc.join(gbc, "b")
        .join(uc, dbc["p"] == uc["w"])
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_bigrams"),
            F.round(
                F.sum(term).cast("double") / F.sum("c").cast("double"), 6
            ).alias("mean_nll_bigram"),
        )
    )
