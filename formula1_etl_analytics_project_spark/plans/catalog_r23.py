"""Round-23 catalog entries (round 5, second leg):

* `golden_record_names` - survivorship: collapse each linked entity
  cluster (connected components over the blocked fuzzy pairs) to ONE
  canonical "golden record" by a deterministic survivorship rule.
  Completes the entity-resolution quartet: block
  (`fuzzy_name_pairs`), score (`fs_linkage_scores`), cluster
  (components), survive (this).
* `nested_subsample_stats` - scaling-law sample preparation: 1%,
  10%, and 100% corpus subsamples that are NESTED BY CONSTRUCTION
  (same hash, increasing threshold - the 1% sample is a subset of
  the 10%), with per-sample size and mean-length stats. Nesting is
  what makes scaling-law points comparable (each larger run extends,
  not replaces, the smaller run's data) and hash-thresholding gives
  it for free, with no coordination and no stored sample membership.
* `xml_roundtrip_scan` - the Spark 4 built-in XML source: stage,
  schema-on-read (explicit schema restores longs / doubles /
  timestamp_ntz from XML's all-text encoding), aggregate off the
  column-pruned XML scan; the oracle computes the same aggregate
  from parquet, proving the write+parse roundtrip lossless.
  Completes the format matrix (parquet/ORC/CSV/JSONL/XML/Python
  datasource; Avro stays unregistered - external module).
* `binary_files_scan` - the `binaryFile` source, the multimodal
  ingest contract (one file per asset -> (path, length, content)
  rows): staged blobs fingerprinted byte-exactly against the
  oracle's text-side digests.

Cross-engine portability as plans/catalog.py: md5-derived hashes,
integer thresholds, decimal sums, BIGINT counts, round(6) ratios.

Importing this module registers everything into catalog.CATALOG.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from formula1_etl_analytics_project_spark.plans.catalog import _register
from formula1_etl_analytics_project_spark.sources.readers import read_table

# ===========================================================================
# Golden-record survivorship over linked name clusters
# ===========================================================================

_GOLDEN_SQL = r"""
WITH RECURSIVE d AS (
  SELECT DISTINCT regexp_replace(lower(trim(p_name)), '\s+', ' ', 'g') AS n
  FROM part
), b1 AS (
  SELECT n, split_part(n, ' ', 2) AS b FROM d
), b2 AS (
  SELECT n, split_part(n, ' ', 1) AS b FROM d
), cand AS (
  SELECT a.n AS ln, c.n AS rn
  FROM b1 a JOIN b1 c ON a.b = c.b AND a.n < c.n
  WHERE abs(length(a.n) - length(c.n)) <= 2 AND levenshtein(a.n, c.n) <= 2
  UNION
  SELECT a.n, c.n
  FROM b2 a JOIN b2 c ON a.b = c.b AND a.n < c.n
  WHERE abs(length(a.n) - length(c.n)) <= 2 AND levenshtein(a.n, c.n) <= 2
), ids AS (
  SELECT n, CAST(('0x' || substr(md5(n), 1, 15)) AS BIGINT) AS nid
  FROM d
), und AS (
  SELECT li.nid AS s, ri.nid AS t FROM cand
  JOIN ids li ON li.n = cand.ln JOIN ids ri ON ri.n = cand.rn
  UNION ALL
  SELECT ri.nid, li.nid FROM cand
  JOIN ids li ON li.n = cand.ln JOIN ids ri ON ri.n = cand.rn
), members AS (
  SELECT DISTINCT s AS nid FROM und
), reach AS (
  SELECT nid AS node, nid AS r FROM members
  UNION
  SELECT re.node, u.t FROM reach re JOIN und u ON u.s = re.r
), clab AS (
  SELECT node, MIN(r) AS cluster FROM reach GROUP BY node
)
SELECT CAST(cluster AS BIGINT) AS cluster_id,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       FIRST(i.n ORDER BY length(i.n), i.n) AS golden_name
FROM clab JOIN ids i ON i.nid = clab.node
GROUP BY cluster
HAVING COUNT(*) >= 2
ORDER BY cluster_id
"""


@_register(
    "golden_record_names",
    _GOLDEN_SQL,
)
def q_golden_record_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Survivorship: each linked cluster of name variants (connected
    components over the blocked edit-distance pairs, labeled by min
    member) collapses to one golden record under a deterministic
    rule - shortest name wins, lexicographic tiebreak (the "most
    canonical spelling" heuristic; any total-order rule slots in).
    Output: one row per multi-member cluster with its size and the
    surviving name. Singleton clusters are already golden and are
    not re-emitted.

    The component fixpoint is imperative on Spark
    (`operators.dedup.connected_components`) and declarative in the
    oracle (WITH RECURSIVE reachability + MIN) - the `dbscan_labels`
    twin pairing. The survivorship pick is an aggregate with a total
    ordering ((length, name) min-by), never a window over the corpus.

    Shape at 100 TB: pairs exist only inside blocks over the DISTINCT
    vocabulary; CC costs diameter rounds over the (bounded) edge
    list; survivorship is one hash aggregate on the labeled members.
    """
    from formula1_etl_analytics_project_spark.operators.dedup import (
        connected_components,
    )
    from formula1_etl_analytics_project_spark.operators.linkage import (
        blocked_edit_pairs,
    )

    part = read_table(spark, sf_dir, "part")

    def hid(col):
        # 60-bit md5 key: the repo's hashed-long discipline - numeric
        # node ids for the CC fixpoint (its decimal convergence guard
        # needs numbers), identical in both engines
        return F.expr(
            f"CAST(conv(substr(md5({col}), 1, 15), 16, 10) AS BIGINT)"
        )

    pairs = (
        blocked_edit_pairs(
            part,
            "p_name",
            blockers=(
                lambda n: F.split(n, " ").getItem(1),
                lambda n: F.split(n, " ").getItem(0),
            ),
            max_dist=2,
        )
        .select(
            hid("left_name").alias("src_id"),
            hid("right_name").alias("dst_id"),
            "left_name",
            "right_name",
        )
        .localCheckpoint()
    )
    names = (
        pairs.select(F.col("src_id").alias("nid"), F.col("left_name").alias("n"))
        .unionByName(
            pairs.select(
                F.col("dst_id").alias("nid"), F.col("right_name").alias("n")
            )
        )
        .distinct()
    )
    clab = connected_components(
        pairs.select("src_id", "dst_id"),
        names.select(F.col("nid").alias("node")),
        src_col="src_id",
        dst_col="dst_id",
    )
    return (
        clab.join(names, clab["node"] == names["nid"])
        .groupBy(F.col("label").alias("cluster_id"))
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            F.min_by(
                "n", F.struct(F.length("n").alias("l"), F.col("n"))
            ).alias("golden_name"),
        )
        .filter(F.col("n_members") >= 2)
        .orderBy("cluster_id")
    )


# ===========================================================================
# Nested hash subsamples (scaling-law sample preparation)
# ===========================================================================

# per-mille thresholds on a 32-bit hash: 1%, 10%, 100%
_NEST_FRACS = ((10, "pct_1"), (100, "pct_10"), (1000, "pct_100"))

_NEST_SQL = f"""
WITH h AS (
  SELECT n_chars,
         CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) % 1000 AS hk
  FROM documents
), tagged AS (
  SELECT s.name AS sample_name, s.thr, h.n_chars
  FROM h
  JOIN (VALUES {', '.join(f"({t}, '{n}')" for t, n in _NEST_FRACS)})
       AS s(thr, name)
    ON h.hk < s.thr
)
SELECT sample_name,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(CAST(n_chars AS DECIMAL(30,4))) AS DOUBLE)
         / CAST(COUNT(*) AS DOUBLE) AS mean_chars
FROM tagged
GROUP BY sample_name, thr
ORDER BY thr
"""


@_register(
    "nested_subsample_stats",
    _NEST_SQL,
)
def q_nested_subsample_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested corpus subsamples for scaling-law runs: membership is
    hash(doc) < threshold, so the 1% sample is BY CONSTRUCTION a
    subset of the 10% which is a subset of the full corpus - each
    larger training run extends the smaller run's data instead of
    replacing it, which is what makes the points of a scaling curve
    comparable. No coordination, no stored membership lists, no
    rand(): the sample is a pure function of the key (the
    `hash_sample_docs` discipline, lifted to a nested family).

    The theta-join (hk < thr) fans each row into every sample it
    belongs to - at most |fractions| copies, and only of the narrow
    stat columns; the aggregate is map-side combinable per sample.

    Shape at 100 TB: one scan, one 3-value broadcast nested-loop
    tag join on a 2-column projection, one (sample)-keyed aggregate
    to 3 rows. Adding a fraction is a VALUES row, not a new scan.
    """
    docs = read_table(spark, sf_dir, "documents", spread=True)
    hk = F.expr(
        "CAST(conv(substr(md5(CAST(doc_id AS STRING)), 1, 8), 16, 10)"
        " AS BIGINT) % 1000"
    )
    fr = spark.createDataFrame(
        [(t, n) for t, n in _NEST_FRACS], ["thr", "sample_name"]
    )
    tagged = docs.select(hk.alias("hk"), "n_chars").join(
        F.broadcast(fr), F.col("hk") < F.col("thr")
    )
    return (
        tagged.groupBy("sample_name", "thr")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            (
                F.sum(F.col("n_chars").cast("decimal(30,4)")).cast("double")
                / F.count("*").cast("double")
            ).alias("mean_chars"),
        )
        .orderBy("thr")
        .select("sample_name", "n_docs", "mean_chars")
    )


# ===========================================================================
# XML roundtrip scan (Spark 4 built-in XML source)
# ===========================================================================

_XML_SQL = """
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE)
         AS sum_price,
       CAST(MIN(o_orderdate) AS TIMESTAMP) AS first_date
FROM orders
WHERE o_orderkey % 10 = 0
GROUP BY o_orderstatus
ORDER BY o_orderstatus
"""


@_register(
    "xml_roundtrip_scan",
    _XML_SQL,
)
def q_xml_roundtrip_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XML interchange surface (the built-in XML source added in
    Spark 4): stage a slice of orders to XML (rowTag records), read
    it back under the EXPLICIT original schema - XML stores
    everything as text, so schema-on-read is what restores longs,
    doubles, and the timestamp_ntz order date; relying on inference
    would mistype edge cases (inference turned digit strings into
    BIGINT in this container's probe) - and aggregate off the XML
    scan. The oracle computes the same aggregate from parquet, so a
    hash match proves the write+parse roundtrip is lossless for every
    touched type. Completes the format matrix: parquet + ORC + CSV +
    JSONL + XML + Python datasource, each oracle-checked (Avro stays
    unregistered - external module, no network).

    Staged once per session per testdata fingerprint under
    _stage_dir, gated on the _SUCCESS marker (a crashed partial write
    is rewritten, not reused - catalog_ext convention). The modulo
    slice keeps the staged XML small: XML is a row-expanded text
    format; the entry pins CORRECTNESS of the interchange, while the
    columnar entries carry the scan-performance story.

    Shape at 100 TB: you would never store the lake in XML - this is
    the ingest-from-partner-feed shape: read with explicit schema,
    convert to parquet once, run everything downstream columnar.
    """
    import os

    from formula1_etl_analytics_project_spark.plans.catalog_ext import (
        _stage_dir,
    )

    src = read_table(spark, sf_dir, "orders").filter(
        F.col("o_orderkey") % 10 == 0
    )
    stage = os.path.join(_stage_dir(sf_dir, "xmlrt", "orders"), "orders_xml")
    if not os.path.exists(os.path.join(stage, "_SUCCESS")):
        (
            src.write.mode("overwrite")
            .format("xml")
            .option("rootTag", "orders")
            .option("rowTag", "order")
            .save(stage)
        )
    xml = (
        spark.read.format("xml")
        .option("rowTag", "order")
        .schema(src.schema)
        .load(stage)
    )
    return (
        xml.groupBy("o_orderstatus")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(30,4)"))
            .cast("double")
            .alias("sum_price"),
            F.min("o_orderdate").cast("timestamp").alias("first_date"),
        )
        .orderBy("o_orderstatus")
    )


# ===========================================================================
# binaryFile source scan (multimodal ingest path)
# ===========================================================================

_BINF_SQL = """
SELECT doc_id,
       CAST(strlen(text) AS BIGINT) AS n_bytes,
       md5(text) AS content_md5
FROM documents
WHERE doc_id % 10 = 0
ORDER BY doc_id
"""


@_register(
    "binary_files_scan",
    _BINF_SQL,
)
def q_binary_files_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `binaryFile` source - Spark's ingest path for opaque media
    blobs (images/audio/video arrive as one file per asset; this
    source turns a directory of them into (path, length, content)
    rows, the input contract of `operators.multimodal`). A slice of
    the corpus is staged as one .bin file per document (driver-side
    fixture write, gated on a marker), read back through the
    binaryFile source, and fingerprinted: id parsed from the path,
    byte length, md5 of the raw bytes. The oracle derives all three
    from the documents view (the texts are pure ASCII in this
    corpus, verified bytes == chars, so DuckDB's VARCHAR md5 hashes
    the identical bytes Spark's binary md5 sees) - a hash match
    proves the file write + directory listing + binary read
    round-trip is byte-lossless.

    Shape at 100 TB: binaryFile scans parallelize over files (one
    task per file group, no splitting within a blob); the pattern is
    list -> read -> fingerprint/decode -> write parquet with the
    binary column ONCE, then run everything downstream columnar -
    the `media_features` entries consume exactly that layout.
    """
    import os

    from formula1_etl_analytics_project_spark.plans.catalog_ext import (
        _stage_dir,
    )

    docs = read_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 10 == 0
    )
    stage = os.path.join(_stage_dir(sf_dir, "binrt", "documents"), "blobs")
    marker = os.path.join(stage, "_STAGED")
    if not os.path.exists(marker):
        os.makedirs(stage, exist_ok=True)
        for row in docs.select("doc_id", "text").toLocalIterator():
            with open(
                os.path.join(stage, f"doc_{row['doc_id']}.bin"), "wb"
            ) as f:
                f.write(row["text"].encode("utf-8"))
        with open(marker, "w") as f:
            f.write("ok")
    bf = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(stage)
    )
    return (
        bf.select(
            F.regexp_extract(F.col("path"), r"doc_(\d+)\.bin$", 1)
            .cast("bigint")
            .alias("doc_id"),
            F.col("length").cast("bigint").alias("n_bytes"),
            F.md5("content").alias("content_md5"),
        )
        .orderBy("doc_id")
    )
