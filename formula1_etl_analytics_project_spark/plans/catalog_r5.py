"""Round-5 catalog entries: corpus-quality repetition signals
(Gopher-style filters), temperature-scaled domain mixing weights for
pretraining-data composition, and the positional-explode (ordinality)
surface.

Every entry follows the portability rules from plans/catalog.py:
integer arithmetic wherever possible, single-IEEE-op doubles from
identical expressions in both engines, round() only on final outputs,
md5 for hashes, unique-key tiebreaks under every LIMIT.

Importing this module registers everything into catalog.CATALOG.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from formula1_etl_analytics_project_spark.functions.text import tokens
from formula1_etl_analytics_project_spark.operators.dedup import (
    minhash_lsh_pairs,
    prefix_jaccard_pairs,
)
from formula1_etl_analytics_project_spark.plans.catalog import _register
from formula1_etl_analytics_project_spark.sources.readers import read_table

# ===========================================================================
# Repetition quality signals (Gopher-style corpus filters)
# ===========================================================================

_REPETITION_SQL = r"""
WITH tok AS (
  SELECT doc_id, unnest(list_transform(
           list_filter(string_split_regex(trim(text), '\s+'),
                       x -> x <> ''),
           t -> lower(t))) AS w
  FROM documents
), wc AS (
  SELECT doc_id, w, COUNT(*) AS c, len(w) AS wlen
  FROM tok GROUP BY doc_id, w
), sig AS (
  SELECT doc_id,
         SUM(c) AS n_words,
         COUNT(*) AS n_distinct,
         MAX(c) AS top_c,
         SUM(wlen * c) AS n_word_chars
  FROM wc GROUP BY doc_id
)
SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, n_distinct,
       ROUND(CAST(top_c AS DOUBLE) / n_words, 6) AS top_word_frac,
       ROUND(CAST(n_words - n_distinct AS DOUBLE) / n_words, 6)
         AS dup_word_frac,
       ROUND(CAST(n_word_chars AS DOUBLE) / n_words, 6) AS mean_word_len,
       (CAST(top_c AS DOUBLE) / n_words > 0.1
        OR CAST(n_words - n_distinct AS DOUBLE) / n_words > 0.8)
         AS is_repetitive
FROM sig
"""


@_register(
    "repetition_signals",
    _REPETITION_SQL,
    bench=True,
    gate_priority=True,
)
def q_repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters - the signals a pretraining
    pipeline cuts boilerplate and degenerate pages on: per document,
    the most-frequent-word fraction, the duplicate-word fraction, and
    the mean word length, plus the combined keep/drop flag. Computed
    as explode -> hash-agg on (doc_id, word) -> hash-agg on doc_id:
    the word-level partial aggregate collapses the exploded rows
    MAP-SIDE before any shuffle, so the shuffle payload is the
    per-doc vocabulary, not the token stream - the property that
    keeps this one-pass at 100 TB. All ratios are int/int single
    IEEE divisions, bit-identical cross-engine; the flag compares
    those exact doubles, so the cut itself is reproducible. No UDF
    anywhere."""
    docs = read_table(spark, sf_dir, "documents", spread=True)
    tok = docs.select(
        "doc_id",
        F.explode(
            F.transform(tokens("text"), lambda t: F.lower(t))
        ).alias("w"),
    )
    wc = tok.groupBy("doc_id", "w").agg(F.count("*").alias("c"))
    sig = wc.groupBy("doc_id").agg(
        F.sum("c").alias("n_words"),
        F.count("*").alias("n_distinct"),
        F.max("c").alias("top_c"),
        F.sum(F.length("w") * F.col("c")).alias("n_word_chars"),
    )
    top_frac = F.col("top_c").cast("double") / F.col("n_words")
    dup_frac = (
        F.col("n_words") - F.col("n_distinct")
    ).cast("double") / F.col("n_words")
    return sig.select(
        "doc_id",
        "n_words",
        "n_distinct",
        F.round(top_frac, 6).alias("top_word_frac"),
        F.round(dup_frac, 6).alias("dup_word_frac"),
        F.round(
            F.col("n_word_chars").cast("double") / F.col("n_words"), 6
        ).alias("mean_word_len"),
        ((top_frac > 0.1) | (dup_frac > 0.8)).alias("is_repetitive"),
    )


# ===========================================================================
# Temperature-scaled domain mixing weights
# ===========================================================================

_MIX_SQL = r"""
WITH per_src AS (
  SELECT source,
         COUNT(*) AS n_docs,
         SUM(len(list_filter(string_split_regex(trim(text), '\s+'),
                             x -> x <> ''))) AS n_tokens,
         CAST(FLOOR(sqrt(COUNT(*)) * 1000000) AS BIGINT) AS sqrt_scaled
  FROM documents GROUP BY source
), tot AS (
  SELECT SUM(sqrt_scaled) AS total FROM per_src
)
SELECT source, n_docs, CAST(n_tokens AS BIGINT) AS n_tokens,
       ROUND(CAST(sqrt_scaled AS DOUBLE) / total, 9) AS mix_weight
FROM per_src CROSS JOIN tot
"""


@_register(
    "domain_mix_weights",
    _MIX_SQL,
    gate_priority=True,
)
def q_domain_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pretraining-mix composition: per-domain doc and token counts
    with temperature-scaled sampling weights w_d = sqrt(n_d) / sum_d
    sqrt(n_d) (alpha = 0.5 - the standard up-weighting of small
    domains so the head domain cannot drown the mixture). sqrt is
    IEEE-exactly-rounded and its scaled FLOOR is a bigint, so the
    normalizing sum is EXACT integer arithmetic - no double-sum
    order dependence - and the final weight is one identical double
    division in both engines. Shape at 100 TB: one hash-agg keyed by
    domain (k rows out), the k-row total broadcast back - the fact
    table is scanned once and never reshuffled."""
    docs = read_table(spark, sf_dir, "documents", spread=True)
    per_src = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(tokens("text"))).alias("n_tokens"),
        F.floor(F.sqrt(F.count("*")) * 1000000)
        .cast("bigint")
        .alias("sqrt_scaled"),
    )
    tot = per_src.agg(F.sum("sqrt_scaled").alias("total"))
    return (
        per_src.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(
                F.col("sqrt_scaled").cast("double") / F.col("total"), 9
            ).alias("mix_weight"),
        )
    )


# ===========================================================================
# Positional explode (ordinality) surface
# ===========================================================================

_ORDINALITY_SQL = r"""
WITH toked AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(text), '\s+'),
                     x -> x <> '') AS toks
  FROM documents WHERE doc_id % 50 = 0
)
SELECT doc_id, r.pos AS pos, r.tok AS tok
FROM (SELECT doc_id,
             unnest(list_transform(
               toks, (t, i) -> struct_pack(tok := t, pos := i - 1))) AS r
      FROM toked)
"""


@_register(
    "explode_ordinality",
    _ORDINALITY_SQL,
    gate_priority=True,
)
def q_explode_ordinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordinality-preserving explode (LATERAL VIEW posexplode): each
    token row carries its 0-based position in the source array - the
    primitive under sequence labeling, positional n-gram features, and
    chunk offsets. Spark's ``posexplode`` is generated per input row
    with no shuffle; the oracle restates it with DuckDB's indexed
    list_transform + unnest. Filter pushed to the scan bounds the
    blow-up; downstream consumers aggregate before any exchange."""
    docs = read_table(spark, sf_dir, "documents", spread=True)
    return (
        docs.filter(F.col("doc_id") % 50 == 0)
        .select("doc_id", F.posexplode(tokens("text")).alias("pos", "tok"))
        .select("doc_id", "pos", "tok")
    )


# ===========================================================================
# Exact set-similarity self-join (AllPairs/PPJoin prefix filtering)
# ===========================================================================

_SHINGLE_CTE = r"""
normed AS (
  SELECT doc_id, list_filter(string_split(
           lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '),
           x -> x <> '') AS toks
  FROM documents
), shingled AS (
  SELECT doc_id,
         list_sort(CASE WHEN len(toks) >= 3 THEN
           list_distinct(list_transform(generate_series(1, len(toks) - 2),
             i -> array_to_string(toks[i:i+2], ' ')))
         ELSE [array_to_string(toks, ' ')] END) AS sh
  FROM normed
)"""

# The prefix join and the exact verify run on 60-bit md5 keys, not
# shingle strings: AllPairs only needs SOME fixed global total order
# (key-ascending is one), and the hashed sets shrink the prefix
# exchange from ~30-byte strings to 8-byte longs (measured at sf0.1:
# best-of-4 2.89s -> 2.07s). list_distinct after hashing keeps set
# semantics under (oracle-bit-identical) key collisions, so the
# Jaccard values match the Spark side exactly.
_KEYED_CTE = f"""{_SHINGLE_CTE}, keyed AS (
  SELECT doc_id,
         list_sort(list_distinct(list_transform(sh,
           s -> ('0x' || substr(md5(s), 1, 15))::BIGINT))) AS sh
  FROM shingled
)"""

_PREFIX_PAIRS_SQL = f"""
WITH {_KEYED_CTE}, pref AS (
  SELECT doc_id, sh,
         unnest(list_slice(sh, 1,
           len(sh) - CAST(ceil(0.5 * len(sh)) AS BIGINT) + 1)) AS tok
  FROM keyed
), cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
         l.sh AS sh_a, r.sh AS sh_b
  FROM pref l JOIN pref r ON l.tok = r.tok AND l.doc_id < r.doc_id
)
SELECT id_a, id_b,
       ROUND(CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
             / len(list_distinct(list_concat(sh_a, sh_b))), 6) AS jaccard
FROM cand
WHERE CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
      / len(list_distinct(list_concat(sh_a, sh_b))) >= 0.5
"""


# Scale restatement (r07 verdict task 4): the driver-facing form above
# carries the shingle ARRAYS through the prefix join and orders prefixes
# lexicographically (by hashed key) - maximally independent of the Spark
# plan, but the common-shingle candidates it generates make DuckDB
# honest-timeout at 50k docs. This form makes the two choices the
# deployment twin (`prefix_jaccard_pairs_df`) makes, each lossless:
#   * prefixes ordered by ascending document frequency (AllPairs holds
#     for ANY fixed global total order; (df, tok) is one) - rare tokens
#     first collapses the candidate count;
#   * ids-then-fetch - the candidate join ships only (doc_id, tok),
#     arrays are fetched back by key for the exact verify.
# Value-equal at sf0.1 (256 rows, 59.7s -> 16.1s measured).
_PREFIX_PAIRS_SQL_SCALE = f"""
WITH {_KEYED_CTE}, sizes AS (
  SELECT doc_id, len(sh) AS n FROM keyed
), expl AS (
  SELECT doc_id, unnest(sh) AS tok FROM keyed
), tok_df AS (
  SELECT tok, COUNT(*) AS df FROM expl GROUP BY tok
), ranked AS (
  SELECT e.doc_id, e.tok,
         ROW_NUMBER() OVER (
           PARTITION BY e.doc_id ORDER BY d.df, e.tok) AS rnk
  FROM expl e JOIN tok_df d ON d.tok = e.tok
), pref AS (
  SELECT r.doc_id, r.tok
  FROM ranked r JOIN sizes s ON s.doc_id = r.doc_id
  WHERE r.rnk <= s.n - CAST(ceil(0.5 * s.n) AS BIGINT) + 1
), cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM pref l JOIN pref r ON l.tok = r.tok AND l.doc_id < r.doc_id
)
SELECT c.id_a, c.id_b,
       ROUND(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
             / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
FROM cand c
JOIN keyed a ON a.doc_id = c.id_a
JOIN keyed b ON b.doc_id = c.id_b
WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
      / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.5
"""


@_register(
    "prefix_jaccard_pairs",
    _PREFIX_PAIRS_SQL,
    gate_priority=True,
    oracle_scale=_PREFIX_PAIRS_SQL_SCALE,
)
def q_prefix_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT set-similarity self-join: EVERY document pair with
    shingle-Jaccard >= 0.5, found without enumerating the O(N^2) pair
    space and without the blocking loss of ngram_jaccard_pairs or the
    banding miss-probability of minhash_lsh_pairs. AllPairs/PPJoin
    prefix filtering (operators/dedup.py prefix_jaccard_pairs): only
    each doc's first |s| - ceil(0.5|s|) + 1 sorted shingles explode
    into the candidate equi-join - provably lossless for J >= 0.5,
    measured 4.7% of the pair space on this corpus - then candidates
    verify with the exact Jaccard. The oracle restates the identical
    prefix construction; both sides are lossless, so the result set
    is the full ground truth either way.

    Measured sf1 footprint (round-7 isolated run): ~44 GiB peak
    transient spill with a skewed 2-task long tail, completing in
    ~12 min on local[32] with 250,600 output rows - IDENTICAL
    cardinality to the ids-then-fetch deployment twin
    `prefix_jaccard_pairs_df` (11.9 MiB exchange), whose plan is the
    one to ship; this lex form exists to demo the arrays-through
    shape and priced exactly that 3,700x spill gap. The r06 sweep's
    'No space left on device' was this spill landing on a disk the
    cumulative 301-entry sweep had already filled."""
    docs = read_table(spark, sf_dir, "documents", spread=True)
    return prefix_jaccard_pairs(docs)


# ===========================================================================
# LSH candidate recall vs exact ground truth
# ===========================================================================

# Tail shared by the lex and scale recall forms: MinHash signatures,
# banding, candidate intersection, and the one-row recall report. It
# consumes `shingled` (from _KEYED_CTE) and a `truth(id_a, id_b)` CTE.
_LSH_EVAL_TAIL = """hp AS (
  SELECT doc_id, sh,
         list_transform(sh, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS h1,
         list_transform(sh, s -> ('0x' || substr(md5(s), 9, 8))::BIGINT) AS h2
  FROM shingled
), sigs AS (
  SELECT doc_id,
         [list_aggregate(list_transform(generate_series(1, len(h1)),
             j -> (h1[j] + h * h2[j]) % 4294967296), 'min')
          FOR h IN [0,1,2,3,4,5,6,7]] AS mh
  FROM hp
), banded AS (
  SELECT doc_id, UNNEST([
    '0|' || mh[1] || '|' || mh[2],
    '1|' || mh[3] || '|' || mh[4],
    '2|' || mh[5] || '|' || mh[6],
    '3|' || mh[7] || '|' || mh[8]]) AS band_key
  FROM sigs
), lsh_cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
  FROM banded l JOIN banded r
    ON l.band_key = r.band_key AND l.doc_id < r.doc_id
), caught AS (
  SELECT id_a, id_b FROM truth
  INTERSECT
  SELECT id_a, id_b FROM lsh_cand
)
SELECT (SELECT COUNT(*) FROM truth) AS n_true,
       (SELECT COUNT(*) FROM caught) AS n_caught,
       (SELECT COUNT(*) FROM truth) - (SELECT COUNT(*) FROM caught)
         AS n_missed,
       CASE WHEN (SELECT COUNT(*) FROM truth) = 0 THEN 0.0
            ELSE ROUND(CAST((SELECT COUNT(*) FROM caught) AS DOUBLE)
                       / (SELECT COUNT(*) FROM truth), 6) END
         AS candidate_recall
"""

_LSH_RECALL_SQL = f"""
WITH {_KEYED_CTE}, pref AS (
  SELECT doc_id, sh,
         unnest(list_slice(sh, 1,
           len(sh) - CAST(ceil(0.5 * len(sh)) AS BIGINT) + 1)) AS tok
  FROM keyed
), cand AS (
  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
         l.sh AS sh_a, r.sh AS sh_b
  FROM pref l JOIN pref r ON l.tok = r.tok AND l.doc_id < r.doc_id
), truth AS (
  SELECT id_a, id_b FROM cand
  WHERE CAST(len(list_intersect(sh_a, sh_b)) AS DOUBLE)
        / len(list_distinct(list_concat(sh_a, sh_b))) >= 0.5
), {_LSH_EVAL_TAIL}"""

# Scale form: identical signature/banding/report tail, truth from the
# df-ordered ids-then-fetch restatement (same pair set by the AllPairs
# theorem - see _PREFIX_PAIRS_SQL_SCALE).
_LSH_RECALL_SQL_SCALE = f"""
WITH {_KEYED_CTE}, truth AS (
  SELECT id_a, id_b FROM ({_PREFIX_PAIRS_SQL_SCALE})
), {_LSH_EVAL_TAIL}"""


@_register(
    "minhash_lsh_recall",
    _LSH_RECALL_SQL,
    gate_priority=True,
    oracle_scale=_LSH_RECALL_SQL_SCALE,
)
def q_minhash_lsh_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accuracy evidence for the LSH dedup path: candidate recall of
    the banded MinHash (8 hashes, 4 bands) against the EXACT ground
    truth from the lossless prefix-filtered join - the same
    measure-the-approximation discipline ann_ivf_recall applies to
    IVF. Both pair sets come from scalable plans (no all-pairs
    anywhere); the comparison is a semi-join on the bounded truth
    set, and the output is one row of integer counts + the recall
    ratio, trivially hashable cross-engine. n_missed > 0 at some
    scales is EXPECTED (banding trades recall for candidate volume);
    the point is that the trade is measured, not assumed.

    Measured sf1 footprint (round-7 isolated run): ~14 GiB peak
    transient spill (two prefix-join executions feed the truth and
    LSH pair sets), one-row output, completing in ~13 min on
    local[32]; its r06 'Spark error' was the shared sweep's disk
    exhaustion, not this plan. The exact-truth join is an EVAL-only
    artifact - production dedup ships the banded LSH path whose
    recall this entry certifies."""
    docs = read_table(spark, sf_dir, "documents", spread=True)
    # truth feeds TWO consumers (the semi-join and its own count);
    # without a boundary the whole prefix-filtered join re-executes
    # per consumer - the round-5 full-catalog shuffle audit measured
    # this entry at 604 MiB through the exchange (~2x the prefix
    # join's own 289 MiB) for a 256-row pair set. Checkpointing the
    # tiny pair results makes each expensive join run exactly once.
    truth = (
        prefix_jaccard_pairs(docs)
        .select("id_a", "id_b")
        .localCheckpoint()
    )
    lsh = (
        minhash_lsh_pairs(docs, jaccard_threshold=0.5)
        .select("id_a", "id_b")
        .localCheckpoint()
    )
    caught = truth.join(lsh, ["id_a", "id_b"], "left_semi")
    agg_true = truth.agg(F.count("*").alias("n_true"))
    agg_caught = caught.agg(F.count("*").alias("n_caught"))
    return agg_true.crossJoin(agg_caught).select(
        "n_true",
        "n_caught",
        (F.col("n_true") - F.col("n_caught")).alias("n_missed"),
        F.when(F.col("n_true") == 0, F.lit(0.0))
        .otherwise(
            F.round(
                F.col("n_caught").cast("double") / F.col("n_true"), 6
            )
        )
        .alias("candidate_recall"),
    )


# ===========================================================================
# Recursive CTE + LATERAL join SQL surface (identical SQL both engines)
# ===========================================================================

_RECURSIVE_SQL = """
WITH RECURSIVE anc AS (
  SELECT c_custkey AS child,
         CAST((c_custkey - c_custkey % 10) / 10 AS BIGINT) AS anc, 1 AS depth
  FROM customer
  WHERE CAST((c_custkey - c_custkey % 10) / 10 AS BIGINT) > 0
  UNION ALL
  SELECT a.child, CAST((a.anc - a.anc % 10) / 10 AS BIGINT), a.depth + 1
  FROM anc a
  WHERE CAST((a.anc - a.anc % 10) / 10 AS BIGINT) > 0
)
SELECT anc AS ancestor, COUNT(*) AS n_descendants, MAX(depth) AS max_depth
FROM anc GROUP BY anc
"""


@_register(
    "recursive_cte_closure",
    _RECURSIVE_SQL,
    gate_priority=True,
    bench=True,
)
def q_recursive_cte_closure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITH RECURSIVE transitive closure (Spark 4 recursive CTEs):
    ancestor -> descendant-count/max-depth over the deterministic
    10-ary hierarchy parent(k) = k div 10 on customer keys - the
    org-chart / BOM-rollup shape SQL engines are asked for daily and
    Spark historically could not express (dedup_clusters implements
    the same fixpoint imperatively for the dedup path; this entry pins
    the declarative surface). The SQL text is IDENTICAL in both
    engines - integer-exact arithmetic, no dialect fork. Spark
    executes each recursion level as a distributed join, so the plan
    scales with level width like the hand-rolled loop."""
    from formula1_etl_analytics_project_spark.sources.readers import (
        register_views,
    )

    register_views(spark, sf_dir)
    return spark.sql(_RECURSIVE_SQL)


_LATERAL_SQL = """
SELECT c.c_custkey, l.o_orderkey, l.o_totalprice
FROM customer c, LATERAL (
  SELECT o_orderkey, o_totalprice FROM orders o
  WHERE o.o_custkey = c.c_custkey
  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) l
WHERE c.c_custkey % 100 = 0
"""


@_register(
    "lateral_topk_per_key",
    _LATERAL_SQL,
    gate_priority=True,
)
def q_lateral_topk_per_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery with per-key ORDER BY ... LIMIT -
    the top-k-per-group idiom written the way an analyst writes it.
    Spark decorrelates the lateral into a distributed join + per-key
    limit rather than executing the subquery per outer row (the
    rewrite window_rank_surface expresses by hand); the unique-key
    tiebreak makes the k rows deterministic so the hash compare is
    exact. Identical SQL text both engines."""
    from formula1_etl_analytics_project_spark.sources.readers import (
        register_views,
    )

    register_views(spark, sf_dir)
    return spark.sql(_LATERAL_SQL)
