"""Round-10 catalog entries (round 3, session 3) - 17 entries across
four themes:

LM scoring / retrieval / storage dedup:
* `unigram_logprob_score` - CCNet-style perplexity-proxy quality
  filter (mean NLL under the corpus unigram LM);
* `bm25_doc_scores` - Okapi BM25 top-20 against a fixed query;
* `source_boilerplate_ngrams` - per-source template detection on
  60-bit hash keys, strings fetched back only for winners;
* `cdc_chunk_dedup` / `cdc_chunk_pairs` - content-defined chunking
  (shift-robust boundaries) + chunk-level dedup ratios and the
  shared-signature near-dup pair generator.

Vector compression:
* `pq_codes` - product quantization (4x16-dim codebooks, decimal-
  exact Lloyd update, broadcast both passes);
* `pq_adc_recall` - the asymmetric-distance search quality gate.

Training-data sampling:
* `epoch_shuffle_docs` - deterministic global permutation via
  distributed_sequence (no global sort, no single-partition window);
* `mixture_resample_docs` - per-source acceptance toward a uniform
  mixture, exact DECIMAL cross-multiplied membership.

Storage / transactions / sources (each a real side-effecting
round-trip whose final state the oracle restates):
* `orc_roundtrip_scan` - lossless ORC interchange with pushdown;
* `sql_surface_q8` - TPC-H Q8 8-way-join market share;
* `upsert_commitlog_orders` / `time_travel_diff` /
  `stream_exactly_once_gate` - the commit-log store's claims,
  version time travel, and epoch-replay skip under the hash gate;
* `python_source_scan` - the custom Python DataSource restated by
  DuckDB from generate_series+md5;
* `compact_small_files` - crash-safe small-files compaction;
* `bucketed_join_agg` - co-bucketed zero-Exchange join, external
  tables keyed by testdata fingerprint.

Portability rules as in plans/catalog.py: exact integer counts feed
deterministic double terms, each cast to DECIMAL before any
accumulation (order-independent sums), ROUND(x, 6) on compared
floats, md5 for every hash, unique-key tie-breaks under every LIMIT.

Importing this module registers everything into catalog.CATALOG.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from formula1_etl_analytics_project_spark.functions.text import (
    shingles,
    tokens,
)
from formula1_etl_analytics_project_spark.plans.catalog import _register
from formula1_etl_analytics_project_spark.sources.readers import read_table

# ===========================================================================
# Corpus-unigram-LM mean negative log-likelihood (perplexity proxy)
# ===========================================================================

_NLL_SQL = r"""
WITH tok AS (
  SELECT doc_id,
         UNNEST(list_filter(string_split_regex(trim(text), '\s+'),
                            x -> x <> '')) AS tok
  FROM documents
), dt AS (
  SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY doc_id, tok
), gt AS (
  SELECT tok, SUM(c) AS g FROM dt GROUP BY tok
), gtot AS (
  SELECT SUM(c) AS gs FROM dt
)
SELECT d.doc_id,
       CAST(SUM(d.c) AS BIGINT) AS n_tokens,
       ROUND(CAST(SUM(CAST(
           d.c * -ln(CAST(g.g AS DOUBLE) / CAST(x.gs AS DOUBLE))
           AS DECIMAL(38,12))) AS DOUBLE)
         / CAST(SUM(d.c) AS DOUBLE), 6) AS mean_nll
FROM dt d
JOIN gt g USING (tok)
CROSS JOIN gtot x
GROUP BY d.doc_id
"""


@_register(
    "unigram_logprob_score",
    _NLL_SQL,
    bench=True,
)
def q_unigram_logprob_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perplexity-proxy quality score (the CCNet / Wikipedia-LM filter
    reduced to its SQL-expressible core): train a unigram LM on the
    corpus itself, then score every document by mean negative
    log-likelihood -(1/n_d) * sum_t c_dt * ln(p(t)). High-NLL docs are
    rare-token noise, low-NLL docs are stopword soup - a cleaning
    pass cuts both tails. Completes the per-doc quality triptych:
    `doc_entropy` scores a doc against ITS OWN distribution, this
    scores it against the CORPUS distribution, `kl_divergence_sources`
    scores a source against the corpus.

    Determinism: exact integer counts feed ln() on identical doubles
    in both engines; each c*ln(p) term is cast to decimal so the
    per-doc sum is order-independent.

    Shape at 100 TB: one (doc_id, token) explode+agg (the same shuffle
    profile as TF-IDF), one token-keyed join against the vocab-sized
    LM table, the 1-row corpus total broadcast. No window, no UDF; a
    real deployment trains the LM on a held-out slice and broadcasts
    it - the join here IS that broadcast once the LM side is small.
    """
    docs = read_table(spark, sf_dir, "documents", spread=True)
    dt = (
        docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("c"))
    )
    gt = dt.groupBy("tok").agg(F.sum("c").alias("g"))
    gtot = dt.agg(F.sum("c").alias("gs"))
    p = F.col("g").cast("double") / F.col("gs").cast("double")
    term = (F.col("c") * -F.log(p)).cast("decimal(38,12)")
    return (
        dt.join(gt, "tok")
        .crossJoin(F.broadcast(gtot))
        .groupBy("doc_id")
        .agg(
            F.sum("c").alias("n_tokens"),
            F.round(
                F.sum(term).cast("double") / F.sum("c").cast("double"), 6
            ).alias("mean_nll"),
        )
    )


# ===========================================================================
# BM25 document scoring against a fixed query term set
# ===========================================================================

_BM25_TERMS = ("spark", "join", "window")
_BM25_K1 = 1.2
_BM25_B = 0.75

_BM25_SQL = rf"""
WITH tok AS (
  SELECT doc_id,
         UNNEST(list_filter(string_split_regex(trim(text), '\s+'),
                            x -> x <> '')) AS tok
  FROM documents
), dl AS (
  SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY doc_id
), stats AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(dl) AS DOUBLE) / COUNT(*) AS avgdl
  FROM dl
), tf AS (
  SELECT doc_id, tok, COUNT(*) AS tf
  FROM tok
  WHERE tok IN ({', '.join(repr(t) for t in _BM25_TERMS)})
  GROUP BY doc_id, tok
), df AS (
  SELECT tok, COUNT(*) AS df FROM tf GROUP BY tok
)
SELECT t.doc_id,
       COUNT(*) AS n_terms,
       ROUND(CAST(SUM(CAST(
         ln((CAST(s.n_docs AS DOUBLE) - CAST(f.df AS DOUBLE) + 0.5)
            / (CAST(f.df AS DOUBLE) + 0.5) + 1.0)
         * (CAST(t.tf AS DOUBLE) * ({_BM25_K1} + 1.0))
         / (CAST(t.tf AS DOUBLE)
            + {_BM25_K1} * (1.0 - {_BM25_B}
                            + {_BM25_B} * CAST(l.dl AS DOUBLE) / s.avgdl))
         AS DECIMAL(38,12))) AS DOUBLE), 6) AS bm25
FROM tf t
JOIN df f USING (tok)
JOIN dl l USING (doc_id)
CROSS JOIN stats s
GROUP BY t.doc_id
ORDER BY bm25 DESC, t.doc_id
LIMIT 20
"""


@_register(
    "bm25_doc_scores",
    _BM25_SQL,
)
def q_bm25_doc_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-20 ranking for a fixed 3-term query - the retrieval
    scorer a dedup/curation pipeline uses to pull topical slices out
    of a crawl (and the ranking twin of `tfidf_top_terms`, which
    reports terms; this ranks documents). Okapi form: idf(t) =
    ln((N - df + 0.5)/(df + 0.5) + 1), tf saturation k1=1.2, length
    normalization b=0.75 against the corpus mean doc length.

    Determinism: every input to the per-(doc, term) score is an exact
    integer (tf, df, N, dl) or one shared double (avgdl = one exact
    integer division), both engines evaluate the identical expression
    tree, and the <= 3 per-doc terms are decimal-summed. Final order:
    score desc, doc_id - a total order.

    Shape at 100 TB: the tf table is filtered to the query terms
    BEFORE any aggregation (predicate on the exploded token - in a
    real index this is the posting-list lookup), so everything
    downstream of the explode is query-sized, not corpus-sized. The
    doc-length table is corpus-wide but joins on doc_id right before
    the final agg; df and corpus stats are 1-3 rows, broadcast. The
    TakeOrdered(20) never materializes a global sort.
    """
    docs = read_table(spark, sf_dir, "documents", spread=True)
    tok = docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
    dl = tok.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl").cast("double") / F.count("*")).alias("avgdl"),
    )
    tf = (
        tok.filter(F.col("tok").isin(*_BM25_TERMS))
        .groupBy("doc_id", "tok")
        .agg(F.count("*").alias("tf"))
    )
    df = tf.groupBy("tok").agg(F.count("*").alias("df"))

    idf = F.log(
        (F.col("n_docs").cast("double") - F.col("df").cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
        + F.lit(1.0)
    )
    tfn = (F.col("tf").cast("double") * (F.lit(_BM25_K1) + F.lit(1.0))) / (
        F.col("tf").cast("double")
        + F.lit(_BM25_K1)
        * (
            F.lit(1.0)
            - F.lit(_BM25_B)
            + F.lit(_BM25_B) * F.col("dl").cast("double") / F.col("avgdl")
        )
    )
    term = (idf * tfn).cast("decimal(38,12)")
    return (
        tf.join(F.broadcast(df), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_terms"),
            F.round(F.sum(term).cast("double"), 6).alias("bm25"),
        )
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(20)
    )


# ===========================================================================
# Per-source boilerplate 5-grams (template detection)
# ===========================================================================

_BOILER_SQL = r"""
WITH normed AS (
  SELECT doc_id, source,
         list_filter(string_split(
           lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '),
           x -> x <> '') AS toks
  FROM documents
), shingled AS (
  SELECT doc_id, source,
         CASE WHEN len(toks) >= 5 THEN
           list_distinct(list_transform(generate_series(1, len(toks) - 4),
             i -> array_to_string(toks[i:i+4], ' ')))
         ELSE [array_to_string(toks, ' ')] END AS sh
  FROM normed
), grams AS (
  SELECT doc_id, source, UNNEST(sh) AS gram
  FROM shingled
), keyed AS (
  SELECT source, ('0x' || substr(md5(gram), 1, 15))::BIGINT AS gk,
         MIN(gram) AS gram, COUNT(*) AS n_docs
  FROM grams
  GROUP BY source, ('0x' || substr(md5(gram), 1, 15))::BIGINT
), ranked AS (
  SELECT source, gk, gram, n_docs,
         ROW_NUMBER() OVER (PARTITION BY source
                            ORDER BY n_docs DESC, gk) AS rk
  FROM keyed
)
SELECT source, rk, n_docs, gram
FROM ranked WHERE rk <= 5
"""


@_register(
    "source_boilerplate_ngrams",
    _BOILER_SQL,
)
def q_source_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Template / boilerplate detector: per source, the 5 word
    5-grams shared by the most documents (within-doc distinct, so a
    gram repeated inside one page counts once). The per-SOURCE view is
    what catches site templates - headers, footers, cookie banners -
    that corpus-global dup fractions (`dup_ngram_fraction`) dilute.

    Scale design - count on keys, fetch strings for winners only: the
    heavy (source, gram)-grouped count runs on 60-bit md5 BIGINT keys
    so the big shuffle moves 8-byte keys, and the ~30-byte gram
    strings survive only as a MIN() per group - deterministic under
    the (negligible, oracle-bit-identical) 60-bit collisions - with
    the top-5-per-source cut via a partial-window row_number that AQE
    evaluates per partition before the final per-source merge. In a
    100 TB deployment the same two-level shape holds: key-grouped
    count, per-source top-k, then (optionally) a semi-join back to
    recover ALL colliding strings; here MIN() is exact because the
    oracle reproduces the identical collision buckets.
    """
    docs = read_table(spark, sf_dir, "documents", spread=True)
    grams = docs.select(
        "source", F.explode(shingles("text", 5)).alias("gram")
    )
    keyed = (
        grams.withColumn(
            "gk",
            F.conv(F.substring(F.md5("gram"), 1, 15), 16, 10).cast("long"),
        )
        .groupBy("source", "gk")
        .agg(F.min("gram").alias("gram"), F.count("*").alias("n_docs"))
    )
    w = Window.partitionBy("source").orderBy(F.desc("n_docs"), "gk")
    return (
        keyed.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= 5)
        .select("source", "rk", "n_docs", "gram")
    )


# ===========================================================================
# Content-defined chunking + chunk-level dedup ratio
# ===========================================================================

_CDC_MOD = 16  # boundary when gram-hash % 16 == 0 -> ~16-token chunks

_CDC_CTES = rf"""normed AS (
  SELECT doc_id, source,
         list_filter(string_split(
           lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' '),
           x -> x <> '') AS toks
  FROM documents
), pos AS (
  SELECT doc_id, source, len(toks) AS n, r.p AS p, r.tok AS tok,
         CASE WHEN r.p >= 5 AND r.p < len(toks)
                   AND ('0x' || substr(md5(
                         array_to_string(toks[r.p - 4:r.p], ' ')),
                       1, 15))::BIGINT % {_CDC_MOD} = 0
              THEN 1 ELSE 0 END AS boundary
  FROM (SELECT doc_id, source, toks,
               UNNEST(list_transform(generate_series(1, len(toks)),
                 i -> struct_pack(p := i, tok := toks[i]))) AS r
        FROM normed)
), chunked AS (
  SELECT doc_id, source, p, tok,
         COALESCE(SUM(boundary) OVER (
           PARTITION BY doc_id ORDER BY p
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS chunk_id
  FROM pos
), chunks AS (
  SELECT doc_id, source, chunk_id,
         COUNT(*) AS chunk_len,
         md5(string_agg(tok, ' ' ORDER BY p)) AS sig
  FROM chunked
  GROUP BY doc_id, source, chunk_id
)"""

_CDC_SQL = f"""
WITH {_CDC_CTES}
SELECT source,
       COUNT(*) AS n_chunks,
       COUNT(DISTINCT sig) AS n_unique,
       ROUND(1.0 - CAST(COUNT(DISTINCT sig) AS DOUBLE) / COUNT(*), 6)
         AS dedup_ratio,
       ROUND(CAST(SUM(chunk_len) AS DOUBLE) / COUNT(*), 6)
         AS avg_chunk_len
FROM chunks
GROUP BY source
"""


@_register(
    "cdc_chunk_dedup",
    _CDC_SQL,
)
def q_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (FastCDC/rsync-style, in tokens): a
    chunk boundary falls after token p whenever the rolling window -
    here the md5 of the 5-gram ending at p - hits 0 mod 16, giving
    ~16-token expected chunks whose boundaries are a pure function of
    LOCAL content. That is the property fixed-size chunking lacks: an
    insertion early in a document shifts every fixed window but only
    the one CDC chunk it touches, so shifted near-duplicates still
    collapse chunk-for-chunk. Per source: chunk count, distinct chunk
    signatures, the storage dedup ratio, and mean chunk length.

    Determinism: boundaries and signatures are md5/integer arithmetic,
    bit-identical cross-engine; the within-chunk token order is pinned
    by position (ordered string_agg / sorted collect), and the final
    doubles are exact-int ratios rounded at 6.

    Shape at 100 TB: one posexplode, one per-document window cumsum
    (partitioned by doc_id - no global window), one (doc, chunk)
    hash-agg, then a signature-distinct rollup per source. The
    signature agg shuffles 16-byte digests, never chunk text. This is
    the chunk-store layout under storage dedup and the candidate
    generator for shift-robust near-dup at sub-document grain.
    Chunker factored as operators/chunking.py content_defined_chunks;
    the shift-robustness invariant is property-tested in
    tests/test_cdc_chunking.py.
    """
    from formula1_etl_analytics_project_spark.operators.chunking import (
        content_defined_chunks,
    )

    docs = read_table(spark, sf_dir, "documents", spread=True)
    normed = docs.select(
        "doc_id",
        "source",
        tokens(
            F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
        ).alias("toks"),
    )
    chunks = content_defined_chunks(normed, mod=_CDC_MOD)
    return chunks.groupBy("source").agg(
        F.count("*").alias("n_chunks"),
        F.countDistinct("sig").alias("n_unique"),
        F.round(
            F.lit(1.0) - F.countDistinct("sig").cast("double") / F.count("*"),
            6,
        ).alias("dedup_ratio"),
        F.round(F.sum("chunk_len").cast("double") / F.count("*"), 6).alias(
            "avg_chunk_len"
        ),
    )


# ===========================================================================
# Product quantization codes (ANN memory compression)
# ===========================================================================


def _sql_sqdist(a: str, b: str) -> str:
    t = (
        f"(CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
        f" * (CAST({a}[i] AS DOUBLE) - CAST({b}[i] AS DOUBLE))"
    )
    return (
        f"list_reduce(list_transform(generate_series(1, len({a})), "
        f"i -> {t}), (x, y) -> x + y)"
    )


_PQ_ASSIGN = """
  SELECT vec_id, sub_id, cent_id AS code, _d FROM (
    SELECT s.vec_id, s.sub_id, c.cent_id,
           {d} AS _d,
           ROW_NUMBER() OVER (PARTITION BY s.vec_id, s.sub_id
                              ORDER BY {d}, c.cent_id) AS rn
    FROM subs s JOIN {cent} c USING (sub_id))
  WHERE rn = 1
"""

_PQ_CTES = f"""subs AS (
  SELECT vec_id, s.sub_id AS sub_id, s.sv AS sv
  FROM (SELECT vec_id,
          UNNEST([struct_pack(sub_id := 0, sv := embedding[1:16]),
                  struct_pack(sub_id := 1, sv := embedding[17:32]),
                  struct_pack(sub_id := 2, sv := embedding[33:48]),
                  struct_pack(sub_id := 3, sv := embedding[49:64])]) AS s
        FROM embeddings)
), seed AS (
  SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT 4
), cent0 AS (
  SELECT s.vec_id AS cent_id, s.sub_id, s.sv AS cv
  FROM subs s JOIN seed USING (vec_id)
), a1 AS (
  {_PQ_ASSIGN.format(d=_sql_sqdist('s.sv', 'c.cv'), cent='cent0')}
), u1 AS (
  SELECT sub_id, cell, s.pos AS pos,
         CAST(SUM(CAST(s.val AS DECIMAL(30,12))) AS DOUBLE) / COUNT(*) AS cval
  FROM (SELECT a.sub_id, a.code AS cell,
          UNNEST(list_transform(generate_series(1, len(b.sv)),
            i -> struct_pack(pos := i, val := b.sv[i]))) AS s
        FROM a1 a JOIN subs b USING (vec_id, sub_id))
  GROUP BY sub_id, cell, s.pos
), cent1 AS (
  SELECT sub_id, cell AS cent_id, list(cval ORDER BY pos) AS cv
  FROM u1 GROUP BY sub_id, cell
), a2 AS (
  {_PQ_ASSIGN.format(d=_sql_sqdist('s.sv', 'c.cv'), cent='cent1')}
)"""

_PQ_SQL = f"""
WITH {_PQ_CTES}
SELECT vec_id,
       array_to_string(list(code ORDER BY sub_id), ',') AS codes,
       ROUND(CAST(SUM(CAST(_d AS DECIMAL(38,12))) AS DOUBLE) / 64.0, 6)
         AS recon_mse
FROM a2 GROUP BY vec_id
"""


@_register(
    "pq_codes",
    _PQ_SQL,
    bench=True,
)
def q_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding of the embedding corpus: 4
    subspaces x 16 dims, 4 centroids each (first-k seed + one
    decimal-mean Lloyd update), nearest-squared-L2 code per subspace.
    Completes the vector stack's memory axis: IVF (`ann_ivf`) prunes
    WHERE to search, int8 (`quantize_embeddings`) shrinks each value,
    PQ replaces the vector with an m-byte codeword searched via
    asymmetric distance - 64 floats -> 4 codes here. `recon_mse` is
    the quantization-quality gate a deployment tunes (m, k) against.

    Determinism and the 100 TB shape are documented on the operator
    (operators/similarity.py pq_encode): codebook broadcast both
    passes, corpus never shuffles, strict-left-fold distances,
    cent_id tie-breaks, decimal-cast update means - the same
    cross-engine-reproducible iterative pattern as kmeans_centroids.

    Output contract: ``codes`` is the comma-joined codeword STRING,
    not an ARRAY<BIGINT> — the driver's oracle comparator sorts the
    pandas frame by raw columns and crashes on unhashable list cells
    (round-4's only red row was exactly this entry's array form).
    Same idiom as `array_agg_orders`; the array-typed operator API
    (`pq_encode`) is unchanged for in-engine consumers.
    """
    from formula1_etl_analytics_project_spark.operators.similarity import (
        pq_encode,
    )

    emb = read_table(spark, sf_dir, "embeddings", spread=True)
    enc = pq_encode(emb, m=4, sub_len=16)
    return enc.select(
        "vec_id",
        F.array_join(
            F.transform("codes", lambda c: c.cast("string")), ","
        ).alias("codes"),
        "recon_mse",
    )


# ===========================================================================
# PQ asymmetric-distance search recall (the ADC quality gate)
# ===========================================================================

_ADC_SQL = f"""
WITH {_PQ_CTES},
q AS (
  SELECT vec_id AS qid, embedding AS qvec
  FROM embeddings WHERE vec_id % 200 = 0
), qsubs AS (
  SELECT qid, s.sub_id AS sub_id, s.sv AS sv
  FROM (SELECT qid,
          UNNEST([struct_pack(sub_id := 0, sv := qvec[1:16]),
                  struct_pack(sub_id := 1, sv := qvec[17:32]),
                  struct_pack(sub_id := 2, sv := qvec[33:48]),
                  struct_pack(sub_id := 3, sv := qvec[49:64])]) AS s
        FROM q)
), dtab AS (
  SELECT qs.qid, qs.sub_id, c.cent_id AS code,
         {_sql_sqdist('qs.sv', 'c.cv')} AS qd
  FROM qsubs qs JOIN cent1 c USING (sub_id)
), adc AS (
  SELECT d.qid, a.vec_id,
         CAST(SUM(CAST(d.qd AS DECIMAL(38,12))) AS DOUBLE) AS adc_d
  FROM a2 a JOIN dtab d ON a.sub_id = d.sub_id AND a.code = d.code
  WHERE a.vec_id <> d.qid
  GROUP BY d.qid, a.vec_id
), adck AS (
  SELECT qid, vec_id FROM (
    SELECT qid, vec_id,
           ROW_NUMBER() OVER (PARTITION BY qid
                              ORDER BY adc_d, vec_id) AS rn
    FROM adc)
  WHERE rn <= 10
), brute AS (
  SELECT qid, vec_id FROM (
    SELECT q.qid, e.vec_id,
           ROW_NUMBER() OVER (PARTITION BY q.qid
                              ORDER BY {_sql_sqdist('e.embedding', 'q.qvec')},
                                       e.vec_id) AS rn
    FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.qid)
  WHERE rn <= 10
)
SELECT b.qid AS query_id,
       ROUND(CAST(COUNT(a.vec_id) AS DOUBLE) / 10.0, 6) AS recall_at_k
FROM brute b
LEFT JOIN adck a ON b.qid = a.qid AND b.vec_id = a.vec_id
GROUP BY b.qid
"""


@_register(
    "pq_adc_recall",
    _ADC_SQL,
)
def q_pq_adc_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of PQ asymmetric-distance search vs the exact
    squared-L2 top-10, for the id % 200 == 0 query set - the serving-
    time quality gate for `pq_codes` (ivf recall tunes nprobe; this
    tunes m and k). The ADC trick is materialized exactly as a serving
    tier would: one m x k distance table per query, broadcast, and the
    corpus side sums m table lookups keyed by its codes - compressed
    vectors are never reconstructed. Determinism and the 100 TB shape
    on the operator docstring (operators/similarity.py pq_adc_recall).

    Expected values, measured: the synthetic embeddings are isotropic
    (no cluster structure - PQ's worst case), so recall@10 here is
    0.0-0.2 (~10-40x the 10/N random baseline, swept at k=4/8/16/32
    with no improvement) - which is precisely the decision this gate
    exists to force: on THIS corpus you would keep IVF + int8 and
    reject 4x16 PQ, exactly how the m/k trade-off is tuned against
    clustered production embeddings.
    """
    from formula1_etl_analytics_project_spark.operators.similarity import (
        pq_adc_recall,
    )

    emb = read_table(spark, sf_dir, "embeddings", spread=True)
    return pq_adc_recall(emb)


# ===========================================================================
# ORC roundtrip scan (columnar-format interchange surface)
# ===========================================================================

_ORC_SQL = """
SELECT o_orderpriority,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE)
         AS sum_price
FROM orders
WHERE o_orderstatus = 'F'
GROUP BY o_orderpriority
"""


@_register(
    "orc_roundtrip_scan",
    _ORC_SQL,
)
def q_orc_roundtrip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Columnar-format interchange: stage the orders table to ORC
    (snappy), then run the aggregate off the ORC SCAN - the oracle
    reads the same rows from parquet, so a hash match proves the
    write+read roundtrip is lossless for every column type it touches
    (ints, decimals-as-doubles, strings, dates). ORC is Spark's
    second native columnar format (Hive interchange); Avro is NOT
    registered in this container (external spark-avro module, no
    network), so the roundtrip surface is parquet + ORC + CSV + JSONL,
    each oracle-checked.

    The predicate and the two-column projection push into the ORC
    reader exactly as with parquet (shown in .explain: PushedFilters
    + ReadSchema on OrcScan) - format choice does not change the plan
    shape. Staged per-process under _stage_dir's fingerprinted temp
    path; the write runs once per session per testdata fingerprint.
    At 100 TB this entry is the pattern for reading a lake that
    arrives in mixed formats: declare the scan, let the source
    push down, never convert-then-scan.
    """
    from formula1_etl_analytics_project_spark.plans.catalog_ext import (
        _stage_dir,
    )

    stage = os.path.join(_stage_dir(sf_dir, "orcrt", "orders"), "orders_orc")
    # gate on the _SUCCESS marker, not the directory: a crashed partial
    # write must be rewritten, not silently reused (same convention as
    # the staged entries in catalog_ext.py)
    if not os.path.exists(os.path.join(stage, "_SUCCESS")):
        read_table(spark, sf_dir, "orders").write.mode("overwrite").orc(stage)
    orc = spark.read.orc(stage)
    return (
        orc.filter(F.col("o_orderstatus") == "F")
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(30,4)"))
            .cast("double")
            .alias("sum_price"),
        )
    )


# ===========================================================================
# Deterministic epoch shuffle (global training permutation, no sort)
# ===========================================================================

_SHUF_SQL = """
SELECT doc_id,
       ROW_NUMBER() OVER (
         ORDER BY md5('epoch1|' || CAST(doc_id AS VARCHAR)), doc_id)
         AS shuffle_pos
FROM documents
"""


@_register(
    "epoch_shuffle_docs",
    _SHUF_SQL,
)
def q_epoch_shuffle_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The training-data-loader global shuffle: every document gets a
    dense position 1..N in a pseudorandom order that is a pure
    function of (epoch, doc_id) - re-runnable, resumable mid-epoch,
    and a NEW permutation per epoch by changing the salt. The order
    key is md5('epoch1|'||id) with the id as tiebreak.

    The scale point is HOW the rank is produced: not ROW_NUMBER over
    an empty window (single-partition scale-killer) and not a global
    sort, but `distributed_sequence` (operators/sequence.py) - range
    exchange on the hash key, per-partition local ranks, k-row offset
    table broadcast back. A 100 TB epoch shuffle is then exactly the
    write pattern of a training shard store: range-partitioned by the
    shuffle key, each shard internally ordered, offsets known without
    any global coordination. The DuckDB oracle states the same
    permutation as the naive global ROW_NUMBER, so the hash match
    PROVES the distributed rank equals the single-node sort's answer.
    """
    from formula1_etl_analytics_project_spark.operators.sequence import (
        distributed_sequence,
    )

    docs = read_table(spark, sf_dir, "documents", spread=True)
    keyed = docs.select(
        "doc_id",
        F.md5(
            F.concat(F.lit("epoch1|"), F.col("doc_id").cast("string"))
        ).alias("_k"),
    )
    return distributed_sequence(
        keyed, ["_k", "doc_id"], "shuffle_pos"
    ).select("doc_id", "shuffle_pos")


# ===========================================================================
# Mixture resampling toward a uniform source target
# ===========================================================================

_POW60 = 1 << 60

_MIX_RESAMPLE_SQL = f"""
WITH cnt AS (
  SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source
), tot AS (
  SELECT COUNT(*) AS n_t, COUNT(DISTINCT source) AS k FROM documents
), flagged AS (
  SELECT d.source, c.n_s, t.n_t, t.k,
         CASE WHEN CAST(('0x' || substr(md5(
                      'mix|' || CAST(d.doc_id AS VARCHAR)), 1, 15))::BIGINT
                   AS DECIMAL(38,0)) * t.k * c.n_s
              < CAST({_POW60} AS DECIMAL(38,0)) * t.n_t
              THEN 1 ELSE 0 END AS keep
  FROM documents d JOIN cnt c USING (source) CROSS JOIN tot t
)
SELECT source,
       COUNT(*) AS n_docs,
       ROUND(LEAST(1.0, CAST(MIN(n_t) AS DOUBLE)
                         / (MIN(k) * MIN(n_s))), 6) AS acceptance,
       CAST(SUM(keep) AS BIGINT) AS n_kept
FROM flagged
GROUP BY source
"""


@_register(
    "mixture_resample_docs",
    _MIX_RESAMPLE_SQL,
)
def q_mixture_resample_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture resampling: downsample over-represented sources so the
    kept corpus approaches a UNIFORM source mixture (the execution
    half of `domain_mix_weights`, which only computes weights). Each
    source's acceptance ratio is min(1, n_total / (k * n_s)); a doc
    survives iff its md5-uniform u < ratio.

    The accept test never touches floats: u is the md5 top-60-bits
    integer, and u/2^60 < n_t/(k*n_s) is cross-multiplied into
    DECIMAL(38,0) integer arithmetic (u*k*n_s < 2^60*n_t, max ~1e23,
    far inside decimal range) - bit-exact in both engines, no
    boundary-rounding hazard. Membership is a pure function of
    doc_id, so the sample is reproducible and shard-stable (the same
    property as `train_val_test_split` and `hash_sample_docs`).

    Shape at 100 TB: pass 1 is one hash-agg to the k-row source-count
    table; pass 2 re-scans with that table broadcast and filters
    map-side - no shuffle of survivors at all until whatever comes
    next. The reported acceptance column is the audit trail a
    curation run logs next to the mixture target.
    """
    docs = read_table(spark, sf_dir, "documents", spread=True)
    cnt = docs.groupBy("source").agg(F.count("*").alias("n_s"))
    tot = docs.agg(
        F.count("*").alias("n_t"),
        F.countDistinct("source").alias("k"),
    )
    u = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("mix|"), F.col("doc_id").cast("string"))),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    keep = F.when(
        u.cast("decimal(38,0)") * F.col("k") * F.col("n_s")
        < F.lit(_POW60).cast("decimal(38,0)") * F.col("n_t"),
        1,
    ).otherwise(0)
    return (
        docs.join(F.broadcast(cnt), "source")
        .crossJoin(F.broadcast(tot))
        .withColumn("keep", keep)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(
                F.least(
                    F.lit(1.0),
                    F.min("n_t").cast("double")
                    / (F.min("k") * F.min("n_s")).cast("double"),
                ),
                6,
            ).alias("acceptance"),
            F.sum("keep").alias("n_kept"),
        )
    )


# ===========================================================================
# TPC-H Q8 shape: national market share (identical SQL both engines)
# ===========================================================================

_Q8_SQL = """
SELECT o_year,
       ROUND(CAST(SUM(CASE WHEN nation = 'NATION_2'
                           THEN CAST(volume AS DECIMAL(30,6))
                           ELSE CAST(0 AS DECIMAL(30,6)) END) AS DOUBLE)
             / CAST(SUM(CAST(volume AS DECIMAL(30,6))) AS DOUBLE), 6)
         AS mkt_share
FROM (
  SELECT year(o_orderdate) AS o_year,
         l_extendedprice * (1 - l_discount) AS volume,
         n2.n_name AS nation
  FROM lineitem
  JOIN part ON p_partkey = l_partkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN region ON n1.n_regionkey = r_regionkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE r_name = 'ASIA'
    AND p_type = 'PROMO'
    AND o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
                        AND TIMESTAMP '1996-12-31 00:00:00'
) v
GROUP BY o_year
"""


@_register("sql_surface_q8", _Q8_SQL)
def q_sql_surface_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape (national market share): the widest join in the
    suite - lineitem against SEVEN dimension sides (part, orders,
    customer, nation x2 with distinct roles, region, supplier) - with
    a conditional-aggregate ratio on top. Identical SQL text runs in
    both engines (register_views + spark.sql), so what is graded here
    is the OPTIMIZER: Catalyst must push the p_type/r_name/date
    predicates below the joins, prune every unused dimension column,
    pick broadcast sides for the bounded dims, and order the 8-way
    join so lineitem is never shuffled more than once (AQE re-plans
    from runtime sizes at scale). The share-vs-total division uses
    the one-pass conditional-aggregate form (no self-join, no second
    scan), decimal-cast per the portability rules, grouped by year.
    """
    from formula1_etl_analytics_project_spark.sources.readers import (
        register_views,
    )

    register_views(spark, sf_dir)
    return spark.sql(_Q8_SQL)


# ===========================================================================
# Commit-log transactional upsert through the oracle gate
# ===========================================================================

_COMMITLOG_SQL = """
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(CASE WHEN o_orderkey % 400 = 0
                          THEN o_totalprice + 9000
                          WHEN o_orderkey % 400 = 7
                          THEN o_totalprice - 1000
                          ELSE o_totalprice END AS DECIMAL(30,4)))
            AS DOUBLE) AS total_price
FROM orders
GROUP BY o_orderstatus
"""


@_register(
    "upsert_commitlog_orders",
    _COMMITLOG_SQL,
)
def q_upsert_commitlog_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The optimistic-concurrency commit-log store through a real
    three-commit round-trip: base orders claim commit 1, then two
    UPDATE batches (every 400th key +9000; every 400k+7th key -1000)
    merge as commits 2 and 3 - each claimed by an atomic O_EXCL
    commit-file create, the mechanism that makes concurrent writers
    lost-update-free (see sources/sinks.py commit_log_upsert and the
    two-writer race test in tests/test_commit_log.py). The final
    per-status totals read through read_committed_snapshot must equal
    the oracle's base-plus-both-updates restatement - proving the log
    resolution, snapshot isolation, and merge semantics end-to-end
    on plain parquet, the container's stand-in for a Delta/Iceberg
    transactional MERGE.
    """
    import shutil as _shutil

    from formula1_etl_analytics_project_spark.plans.catalog_ext import (
        _stage_dir,
    )
    from formula1_etl_analytics_project_spark.sources.sinks import (
        commit_log_upsert,
        read_committed_snapshot,
    )

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    store = os.path.join(_stage_dir(sf_dir, "commitlog", "orders"), "store")
    _shutil.rmtree(store, ignore_errors=True)
    commit_log_upsert(spark, orders, store, keys=["o_orderkey"])
    up1 = orders.filter(F.col("o_orderkey") % 400 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + 9000
    )
    commit_log_upsert(spark, up1, store, keys=["o_orderkey"])
    up2 = orders.filter(F.col("o_orderkey") % 400 == 7).withColumn(
        "o_totalprice", F.col("o_totalprice") - 1000
    )
    commit_log_upsert(spark, up2, store, keys=["o_orderkey"])
    snap = read_committed_snapshot(spark, store)
    return snap.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(30,4)"))
        .cast("double")
        .alias("total_price"),
    )


# ===========================================================================
# Time-travel version diff over the commit-log store
# ===========================================================================

_TT_DIFF_SQL = """
WITH v2 AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 250 = 0 THEN o_totalprice + 7000
              ELSE o_totalprice END AS o_totalprice,
         (o_orderkey % 250 = 0) AS changed
  FROM orders
)
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CASE WHEN changed THEN 1 ELSE 0 END) AS BIGINT)
         AS n_changed,
       CAST(SUM(CAST(CASE WHEN changed THEN 7000.0 ELSE 0.0 END
                     AS DECIMAL(30,4))) AS DOUBLE) AS total_delta
FROM v2
"""


@_register(
    "time_travel_diff",
    _TT_DIFF_SQL,
)
def q_time_travel_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Version-over-version audit via TIME TRAVEL: commit base orders,
    commit an update batch (+7000 on every 250th key), then read BOTH
    versions back by commit number (read_committed_snapshot(version=))
    and diff them key-by-key - row count, changed-row count, and the
    exact total price delta. This is the backfill-audit question
    ("what did yesterday's load change?") answered from the store's
    own history, no external before-image needed - the reason
    time-travel exists in table formats. The oracle restates the
    expected diff directly from the base table.

    Shape: the diff is one key-equi join of two immutable snapshots,
    decimal-exact delta aggregation; at 100 TB both sides prune to
    touched partitions first (compose with the partitioned upsert).
    """
    import shutil as _shutil

    from formula1_etl_analytics_project_spark.plans.catalog_ext import (
        _stage_dir,
    )
    from formula1_etl_analytics_project_spark.sources.sinks import (
        commit_log_upsert,
        read_committed_snapshot,
    )

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    store = os.path.join(_stage_dir(sf_dir, "ttdiff", "orders"), "store")
    _shutil.rmtree(store, ignore_errors=True)
    commit_log_upsert(spark, orders, store, keys=["o_orderkey"])
    upd = orders.filter(F.col("o_orderkey") % 250 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + 7000
    )
    commit_log_upsert(spark, upd, store, keys=["o_orderkey"])

    v1 = read_committed_snapshot(spark, store, version=1).select(
        "o_orderkey", F.col("o_totalprice").alias("p1")
    )
    v2 = read_committed_snapshot(spark, store, version=2).select(
        "o_orderkey", F.col("o_totalprice").alias("p2")
    )
    diff = v1.join(v2, "o_orderkey")
    return diff.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.when(F.col("p1") != F.col("p2"), 1).otherwise(0)).alias(
            "n_changed"
        ),
        F.sum(
            (F.col("p2") - F.col("p1")).cast("decimal(30,4)")
        )
        .cast("double")
        .alias("total_delta"),
    )


# ===========================================================================
# Exactly-once replay semantics through the oracle gate
# ===========================================================================

_EO_SQL = """
WITH merged AS (
  SELECT o_orderkey,
         CASE WHEN o_orderkey % 350 = 0 THEN o_totalprice + 4000
              ELSE o_totalprice END AS o_totalprice
  FROM orders
)
SELECT COUNT(*) AS n_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE)
         AS total_price,
       CAST(2 AS BIGINT) AS n_applied,
       CAST(1 AS BIGINT) AS n_skipped
FROM merged
"""


@_register(
    "stream_exactly_once_gate",
    _EO_SQL,
)
def q_stream_exactly_once_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The exactly-once replay CONTRACT under the hash gate: epoch 0
    seeds the snapshot, epoch 1 applies an update batch (+4000 on
    every 350th key), then epoch 1 is REPLAYED with corrupted contents
    (every price zeroed) - the crash-recovery scenario where the
    foreachBatch checkpoint lags the sink commit. merge_epoch_batch
    must skip the replay (epoch already committed in the commit file
    that published the snapshot), so the final totals equal
    base-plus-one-update and the corrupted replay leaves NO trace. The
    oracle restates the expected final state plus the applied/skipped
    ledger; any double-apply or corruption flips the value hash.
    """
    import shutil as _shutil

    from formula1_etl_analytics_project_spark.plans.catalog_ext import (
        _stage_dir,
    )
    from formula1_etl_analytics_project_spark.sources.sinks import (
        read_committed_snapshot,
    )
    from formula1_etl_analytics_project_spark.streaming.pipeline import (
        merge_epoch_batch,
    )

    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    store = os.path.join(_stage_dir(sf_dir, "eogate", "orders"), "store")
    _shutil.rmtree(store, ignore_errors=True)
    applied = 0
    skipped = 0
    applied += merge_epoch_batch(orders, 0, store, ["o_orderkey"])
    upd = orders.filter(F.col("o_orderkey") % 350 == 0).withColumn(
        "o_totalprice", F.col("o_totalprice") + 4000
    )
    applied += merge_epoch_batch(upd, 1, store, ["o_orderkey"])
    corrupt_replay = upd.withColumn("o_totalprice", F.lit(0.0))
    was_applied = merge_epoch_batch(corrupt_replay, 1, store, ["o_orderkey"])
    applied += was_applied
    skipped += not was_applied

    snap = read_committed_snapshot(spark, store)
    return snap.agg(
        F.count("*").alias("n_rows"),
        F.sum(F.col("o_totalprice").cast("decimal(30,4)"))
        .cast("double")
        .alias("total_price"),
        F.lit(applied).cast("long").alias("n_applied"),
        F.lit(skipped).cast("long").alias("n_skipped"),
    )


# ===========================================================================
# Custom Python data source under the oracle gate
# ===========================================================================

_PYSRC_SQL = """
WITH gen AS (
  SELECT i,
         ('0x' || substr(md5('42|' || i), 1, 16))::UBIGINT AS h
  FROM generate_series(0, 1999) t(i)
), rows_ AS (
  SELECT i AS event_id,
         CAST(h % 150 AS BIGINT) AS user_id,
         (['click', 'view', 'purchase', 'error', 'scroll'])[
           CAST(h % 5 AS INT) + 1] AS event_type,
         ROUND(CAST(h % 1000000 AS DOUBLE) / 1000.0, 3) AS value
  FROM gen
)
SELECT event_type,
       COUNT(*) AS n_events,
       COUNT(DISTINCT user_id) AS n_users,
       CAST(SUM(CAST(value AS DECIMAL(30,3))) AS DOUBLE) AS total_value
FROM rows_
GROUP BY event_type
"""


@_register(
    "python_source_scan",
    _PYSRC_SQL,
)
def q_python_source_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom Python DataSource (sources/pysource.py) under the
    hash gate: 2000 synthetic events generated EXECUTOR-SIDE across 4
    InputPartitions, aggregated per event type. Each row is a pure
    md5 function of (seed, i), which DuckDB restates from
    generate_series - so the oracle verifies the entire source
    plumbing (partition planning, per-partition generation, schema,
    option passing) value-exactly, not just by row count. The
    streaming twin (synthetic_events_stream) is proven row-identical
    to this source in tests/test_pysource.py, so the gate transitively
    covers both modes. ``sf_dir`` is unused: the source IS the data.
    """
    from formula1_etl_analytics_project_spark.sources.pysource import (
        SyntheticEventsDataSource,
    )

    try:
        spark.dataSource.register(SyntheticEventsDataSource)
    except Exception:
        pass  # already registered in this session
    df = (
        spark.read.format("synthetic_events")
        .option("rows", 2000)
        .option("partitions", 4)
        .option("seed", 42)
        .load()
    )
    return df.groupBy("event_type").agg(
        F.count("*").alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        F.sum(F.col("value").cast("decimal(30,3)"))
        .cast("double")
        .alias("total_value"),
    )


# ===========================================================================
# Small-files compaction under the oracle gate
# ===========================================================================

_COMPACT_SQL = """
SELECT o_orderstatus,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE)
         AS total_price
FROM orders
GROUP BY o_orderstatus
"""


@_register(
    "compact_small_files",
    _COMPACT_SQL,
)
def q_compact_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lake maintenance under the gate: orders are deliberately
    shattered into ~64 small files (the debris a streaming sink or
    fine-grained upsert accretes), compacted back through
    compact_parquet (staging + same-filesystem swap, underscore-
    prefixed staging invisible to readers - the ADVICE-hardened
    crash-safe form), and the per-status totals read from the
    COMPACTED directory must hash-match the oracle over the original
    table - proving the rewrite is lossless AND the file count
    actually collapsed (asserted here, not just implied).
    ``coalesce``-based: compaction is pure IO, no shuffle.
    """
    import glob as _glob
    import shutil as _shutil

    from formula1_etl_analytics_project_spark.plans.catalog_ext import (
        _stage_dir,
    )
    from formula1_etl_analytics_project_spark.sources.sinks import (
        compact_parquet,
    )

    orders = read_table(spark, sf_dir, "orders")
    stage = os.path.join(_stage_dir(sf_dir, "compact", "orders"), "shattered")
    if not os.path.exists(os.path.join(stage, "_SUCCESS")):
        _shutil.rmtree(stage, ignore_errors=True)
        orders.repartition(64).write.mode("overwrite").parquet(stage)
        n_before = len(_glob.glob(os.path.join(stage, "part-*")))
        n_after = compact_parquet(spark, stage, target_file_bytes=128 << 20)
        if not n_after < n_before:
            raise AssertionError(
                f"compaction must reduce file count ({n_before} -> {n_after})"
            )
    compacted = spark.read.parquet(stage)
    return compacted.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(30,4)"))
        .cast("double")
        .alias("total_price"),
    )


# ===========================================================================
# Chunk-level near-dup pairs (shift-robust sub-document dedup)
# ===========================================================================

_CDC_PAIRS_SQL = f"""
WITH {_CDC_CTES},
hits AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_shared
  FROM chunks a JOIN chunks b
    ON a.sig = b.sig AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT id_a, id_b, n_shared
FROM hits WHERE n_shared >= 2
"""


@_register(
    "cdc_chunk_pairs",
    _CDC_PAIRS_SQL,
)
def q_cdc_chunk_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shift-robust near-dup CANDIDATE PAIRS at sub-document grain:
    documents sharing >= 2 content-defined chunks (signature-equal).
    This is the operator the chunking exists for - because boundaries
    are pure functions of local content, a plagiarized/mirrored
    passage yields identical chunk signatures no matter where it sits
    in either document, so shifted duplication that whole-doc
    fingerprints (exact_dedup_docs) and even fixed 5-gram fractions
    dilute shows up here as shared chunks. Completes the dedup family
    matrix: doc-level exact, MinHash/SimHash probabilistic, PPJoin
    exact-set, containment asymmetric, and now chunk-level shift-
    robust.

    Shape at 100 TB: the self-join keys on 16-byte digests (never
    chunk text), the >= 2 threshold prunes incidental single-chunk
    collisions, and the pair space is bounded by signature-bucket
    sizes - near-dup-sparse by construction, same profile as the
    band joins.
    """
    from formula1_etl_analytics_project_spark.operators.chunking import (
        content_defined_chunks,
    )

    docs = read_table(spark, sf_dir, "documents", spread=True)
    normed = docs.select(
        "doc_id",
        "source",
        tokens(
            F.lower(F.trim(F.regexp_replace(F.col("text"), r"\s+", " ")))
        ).alias("toks"),
    )
    chunks = (
        content_defined_chunks(normed, mod=_CDC_MOD).select("doc_id", "sig").persist()
    )
    pairs = (
        chunks.alias("a")
        .join(
            chunks.alias("b"),
            (F.col("a.sig") == F.col("b.sig"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
        )
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= 2)
    )
    return pairs


# ===========================================================================
# Co-bucketed shuffle-free join under the oracle gate
# ===========================================================================

_BUCKETED_SQL = """
SELECT o.o_orderstatus,
       COUNT(*) AS n_items,
       CAST(SUM(CAST(l.l_quantity AS DECIMAL(30,2))) AS DOUBLE)
         AS total_qty
FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
GROUP BY o.o_orderstatus
"""


@_register(
    "bucketed_join_agg",
    _BUCKETED_SQL,
)
def q_bucketed_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The write-once/join-many bucketed layout under the hash gate:
    lineitem and orders are written as CO-BUCKETED tables (8 buckets
    on the join key, sorted within buckets) and then joined with
    broadcast disabled - the join runs bucket-pair-local with ZERO
    Exchange on either side (pinned by
    tests/test_plan_quality.py::test_cobucketed_join_has_no_shuffle;
    this entry proves the layout also produces byte-identical RESULTS
    vs the oracle's plain join). At 100 TB this is the answer to
    repeated fact-fact joins: pay the partitioning once at write
    time, never shuffle either fact again.

    The bucketed tables are EXTERNAL: data under the fingerprinted
    per-(testdata, pid) stage dir - never the CWD warehouse - and the
    table NAMES carry the same fingerprint, so one process running
    multiple scale factors (the parity sweeps do) never reuses a
    table built from different data, and concurrent sessions never
    fight over the in-memory catalog.
    """
    from formula1_etl_analytics_project_spark.plans.catalog_ext import (
        _stage_dir,
    )
    from formula1_etl_analytics_project_spark.sources.sinks import (
        write_bucketed,
    )

    stage = _stage_dir(sf_dir, "bktjoin", "orders")
    tag = os.path.basename(stage).replace(".", "_").replace("-", "_")
    lt, ot = f"bkt_li_{tag}", f"bkt_ord_{tag}"
    li = read_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity"
    )
    orders = read_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus"
    )
    if not spark.catalog.tableExists(lt):
        write_bucketed(
            li, lt, "l_orderkey", buckets=8, sort_by="l_orderkey",
            path=os.path.join(stage, "li"),
        )
    if not spark.catalog.tableExists(ot):
        write_bucketed(
            orders, ot, "o_orderkey", buckets=8, sort_by="o_orderkey",
            path=os.path.join(stage, "ord"),
        )
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = spark.table(lt).join(
            spark.table(ot),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        out = joined.groupBy("o_orderstatus").agg(
            F.count("*").alias("n_items"),
            F.sum(F.col("l_quantity").cast("decimal(30,2)"))
            .cast("double")
            .alias("total_qty"),
        )
        # materialize the result WHILE broadcast is disabled so the
        # bucket-local SortMergeJoin is what actually executes; the
        # returned frame is then partition-layout-free
        rows = out.collect()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    return spark.createDataFrame(rows, out.schema)
