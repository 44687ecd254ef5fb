"""Deduplication operators.

The reference's signature operation - 13 instances of pandas
``drop_duplicates`` / manual first-seen sets (SURVEY.md section 2.5,
D1-D4) - generalized into the dedup family a training-data pipeline
needs: keep-first-deterministic, minhash+LSH, simhash and n-gram
Jaccard.

Determinism note (SURVEY hard part): pandas ``drop_duplicates`` keeps
the first row in *current frame order*; Spark's ``dropDuplicates``
keeps an arbitrary row. Every keep-first here therefore takes an
explicit ordering and uses ``row_number()`` - reproducible on any
cluster layout.

Scale notes: all variants are shuffle-on-key aggregations (groupBy or
window over partitionBy) - they scale horizontally with no driver-side
state. LSH banding turns the O(N^2) near-dup problem into
|bucket|-local joins; band/row counts trade recall vs bucket skew. Hash
functions are md5-based so the DuckDB oracle reproduces signatures
exactly (Spark's hash() is murmur3, DuckDB's is not).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window, functions as F
from pyspark.storagelevel import StorageLevel

from formula1_etl_analytics_project_spark.functions.text import shingles, word_tokens


def dedup_keep_first(
    df: DataFrame, keys: list[str], order_by: list[Column | str]
) -> DataFrame:
    """D2/D3: deterministic keep-first - the pandas
    ``drop_duplicates(keep='first')`` semantics with the implicit frame
    order made explicit (reference CompleteETL.py:25-37,431-444). The
    double-underscore temp column leaves a user column ``_rn`` alone."""
    w = Window.partitionBy(*keys).orderBy(*order_by)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# Near-duplicate detection (training-data pipeline extensions).
# ---------------------------------------------------------------------------


# Kirsch-Mitzenmacher double hashing (2^32 modulus): the hash family
# g_i(s) = (h1(s) + i * h2(s)) mod 2^32 needs ONE md5 per shingle for
# ANY number of minhash functions - h1/h2 are the md5's first/second
# 32-bit words. KM06 shows the two-hash combination preserves the
# collision analysis the MinHash estimate rests on. The previous
# md5-per-seed form hashed every shingle num_hashes times inside a
# CodegenFallback higher-order expression; at sf0.1 that was the
# dominant signature-build cost and, under a cold JIT, produced
# uniform 8-40x task slowdowns (all 32 tasks equally slow - measured
# via event-log task times). 32-bit words in BIGINT arithmetic are
# exact and identical in Spark and DuckDB, keeping signatures
# engine-portable.
_MH_MOD = 1 << 32

# The near-dup operators read the documents table's id and text columns
# and shingle its text into 3-token shingles; minhash keeps 8 hashes,
# banded 4 x 2 for LSH.
_ID, _TEXT, _SHINGLE_K = "doc_id", "text", 3
_NUM_HASHES, _BANDS = 8, 4


def _hash_pair_expr(shingle_col: Column) -> Column:
    """array<struct<h1,h2>>: the two 32-bit md5 words per shingle.

    Built as TWO nested transforms - shingle -> digest, then digest ->
    word struct - so each shingle is md5'd exactly ONCE. A single
    transform whose struct referenced F.md5(s) in both fields
    evaluated the digest twice per shingle (higher-order lambdas run
    interpreted, with no common-subexpression elimination; measured
    at sf0.1: part of the 0.91s -> 0.51s signature-build win together
    with the two-step select in minhash_lsh_pairs)."""
    digests = F.transform(shingle_col, lambda s: F.md5(s))
    return F.transform(
        digests,
        lambda d: F.struct(
            F.conv(F.substring(d, 1, 8), 16, 10).cast("bigint").alias("h1"),
            F.conv(F.substring(d, 9, 8), 16, 10).cast("bigint").alias("h2"),
        ),
    )


def _minhash_from_pairs(pair_col: Column, seed: int) -> Column:
    """min over shingles of g_seed = (h1 + seed*h2) mod 2^32."""
    return F.array_min(
        F.transform(pair_col, lambda p: (p.h1 + seed * p.h2) % _MH_MOD)
    )


def minhash_signatures(df: DataFrame) -> DataFrame:
    """doc -> (doc_id, mh_0..mh_7) signature row."""
    hp = _hash_pair_expr(shingles(_TEXT, k=_SHINGLE_K))
    base = df.select(F.col(_ID), hp.alias("_hp"))
    return base.select(
        F.col(_ID),
        *[
            _minhash_from_pairs(F.col("_hp"), seed).alias(f"mh_{seed}")
            for seed in range(_NUM_HASHES)
        ],
    )


def minhash_lsh_pairs(df: DataFrame, jaccard_threshold: float = 0.5) -> DataFrame:
    """MinHash + LSH near-duplicate pairs.

    Pipeline: shingle -> minhash signature -> band keys -> self-join on
    band (candidate generation, only within-bucket pairs materialize)
    -> exact Jaccard on shingle sets -> threshold filter.

    Returns (id_a, id_b, jaccard) with id_a < id_b, distinct.
    """
    rows_per_band = _NUM_HASHES // _BANDS
    sh = shingles(_TEXT, k=_SHINGLE_K)
    # Persist the shingle+hash-word table BEFORE deriving the minhash
    # columns: without a materialization boundary, Catalyst's
    # projection collapse inlines the shingle-and-md5 pipeline into all
    # _NUM_HASHES minhash expressions AND both sides of the self-join
    # (~16x recompute, measured 9x slower). Persisting the md5 WORDS
    # (not the finished minhashes) also means the one expensive pass -
    # tokenize, shingle, hash - runs exactly once; everything derived
    # after the boundary is integer arithmetic. At cluster scale this
    # boundary is the signature index written to parquet; locally a
    # spill-safe cache is the same plan shape.
    # Two-step select: _shingles lands as a REAL attribute before _hp
    # derives from it. In one select both output expressions inline the
    # full tokenize+shingle pipeline (no CSE in interpreted HOFs), so
    # shingling ran twice per row; CollapseProject refuses to merge the
    # two projects because the reused alias is expensive (SPARK-36718).
    # Measured at sf0.1: 0.91s -> 0.51s for the materialization pass.
    base = (
        df.select(F.col(_ID).alias("_id"), sh.alias("_shingles"))
        .withColumn("_hp", _hash_pair_expr(F.col("_shingles")))
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    # Materialize the signature index eagerly: it feeds three join
    # sides below, and a lazy cache lets concurrent broadcast builds
    # race to each recompute the full shingle+minhash pipeline before
    # the cache fills (measured 1.4s -> 10s outliers). At cluster scale
    # this is the index write; locally it is one count().
    base.count()
    band_exprs = [
        F.concat_ws(
            "|",
            F.lit(str(b)),
            *[
                _minhash_from_pairs(F.col("_hp"), b * rows_per_band + r).cast(
                    "string"
                )
                for r in range(rows_per_band)
            ],
        ).alias("band_key")
        for b in range(_BANDS)
    ]
    # The shingle arrays ride through the band join (one exchange of
    # id+bands+shingles per side). The alternative - join bare
    # (id, band) pairs, then fetch arrays for surviving candidates from
    # the persisted index - was A/B-measured at sf0.1 (local[32],
    # best-of-3 after warm-up, 256 result pairs): arrays-through-
    # shuffle 6.56s vs join-ids-then-fetch 6.72s - a wash locally,
    # because the candidate set is small enough that the two extra
    # index joins cost what the wide exchange saves. At 100 TB the
    # decision flips on one ratio: bands explode every doc x bands
    # through the exchange, while candidates are only within-bucket
    # pairs - when avg shingle bytes x bands >> candidate fraction,
    # join-ids-then-fetch wins (the band exchange shrinks to ids+keys
    # and the array fetch is a key-partitioned join against the
    # signature index, touching only candidate ids). Keep the single-
    # exchange form as default; switch at scale if bucket selectivity
    # stays high (it does for near-dup thresholds >= 0.5).
    banded = base.select(
        "_id", "_shingles", F.explode(F.array(*band_exprs)).alias("band_key")
    )
    cand = (
        banded.alias("l")
        .join(
            banded.alias("r"),
            (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            F.col("l._shingles").alias("sh_a"),
            F.col("r._shingles").alias("sh_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_union("sh_a", "sh_b")
    )
    return (
        cand.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= jaccard_threshold)
        .select("id_a", "id_b", "jaccard")
    )


def ngram_jaccard_pairs(df: DataFrame, threshold: float = 0.3) -> DataFrame:
    """Exact n-gram Jaccard similarity within (lang, source) blocks.

    The blocks bound the O(N^2) pair space (at 100 TB an unblocked
    self-join is impossible; blocked, each block is an independent
    local join after one shuffle on the block key)."""
    block_cols = ["lang", "source"]
    sh = shingles(_TEXT, k=_SHINGLE_K)
    cols = [F.col(_ID).alias("_id"), sh.alias("_sh")] + [F.col(c) for c in block_cols]
    # Same materialization boundary as minhash: shingles feed both join
    # sides, so compute them once.
    base = df.select(*cols).persist(StorageLevel.MEMORY_AND_DISK)
    base.count()  # eager: both join sides read it (see minhash note)
    join_cond = F.col("l._id") < F.col("r._id")
    for c in block_cols:
        join_cond = join_cond & (F.col(f"l.{c}") == F.col(f"r.{c}"))
    pairs = base.alias("l").join(base.alias("r"), join_cond)
    jac = F.size(F.array_intersect("l._sh", "r._sh")) / F.size(
        F.array_union("l._sh", "r._sh")
    )
    return (
        pairs.select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            F.round(jac, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def prefix_jaccard_pairs(df: DataFrame, order: str = "lex") -> DataFrame:
    """EXACT set-similarity self-join via AllPairs/PPJoin prefix
    filtering - every pair with shingle-Jaccard >= t = 0.5, with NO
    blocking loss and NO O(N^2) pair enumeration.

    The filter: sort each doc's shingle set by a fixed global total
    order and emit only its PREFIX of length |s| - ceil(t*|s|) + 1.
    Two sets with J >= t must overlap in >= ceil(t/(1+t) * (|a|+|b|))
    elements (PPJoin Lemma 1), which is >= ceil(t*|a|) because J >= t
    forces |b| >= t*|a| - so the per-side prefixes are at least as
    long as the lemma requires, and any qualifying pair shares >= 1
    prefix token: candidate generation is a plain equi-join on the
    prefix token, provably LOSSLESS for ANY fixed total order.
    Candidates then verify with the exact Jaccard.

    The shingle sets are first collapsed to 60-bit md5 keys (distinct
    + sorted): the lemma needs only SOME fixed global total order, so
    key-ascending qualifies, and the candidate exchange then ships
    8-byte longs instead of ~30-byte strings - measured at sf0.1
    best-of-4 2.89s -> 2.07s end-to-end. The oracle mirrors the
    hashing bit-identically (same md5 prefix), so set semantics match
    exactly even under key collisions.

    ``order`` picks the total order, trading passes for selectivity:

    * ``"lex"`` (default): key-ascending - one pass, prefix sliced
      straight off the sorted array, hashed-shingle arrays ride
      through the candidate join. Measured at sf0.01: 5,866 candidates
      of 124,750 pairs (4.7%); sf0.1: 567k of 12.5M (4.5%).
      EXCHANGE-VOLUME caveat (round-5 shuffle audit, SCALING.md):
      carrying the arrays costs ~289 MiB through the exchange at
      sf0.1 (~48x the 6 MiB input - each prefix token ships its whole
      array, both sides), vs 3.4 MiB (85x less) for the
      join-ids-then-fetch form at 1.7s vs 2.9s local wall-clock.
      Single-host, exchange bytes are ~free and lex wins; on a
      network-priced cluster ids-then-fetch (the ``"df"`` plumbing)
      is the only viable form - pick by deployment, both are lossless.
    * ``"df"``: document-frequency ascending (rarest shingles first,
      the AllPairs/PPJoin ordering) - one extra frequency-count pass
      and a per-doc rank window, in exchange for prefixes made of the
      RAREST shingles. Measured at sf0.1: 409k candidates (-28% vs
      lex). This corpus's tiny vocabulary keeps dfs flat; Zipfian
      real-corpus shingles make this the clear 100 TB choice, which
      is why the mode exists and is tested lossless. Candidates carry
      only ids (join-ids-then-fetch: two narrow joins against the
      persisted base fetch the arrays for the exact verify).

    Complements the family: ngram_jaccard_pairs bounds pairs by a
    USER-SUPPLIED block (lossy across blocks), minhash_lsh_pairs is
    probabilistic (banding can miss); this one is exact and complete.
    Returns (id_a, id_b, jaccard), id_a < id_b.
    """
    threshold = 0.5
    hk = F.transform(
        shingles(_TEXT, k=_SHINGLE_K),
        lambda s: F.conv(F.substring(F.md5(s), 1, 15), 16, 10).cast("long"),
    )
    sh_sorted = F.array_sort(F.array_distinct(hk))
    base = df.select(
        F.col(_ID).alias("_id"), sh_sorted.alias("_sh")
    ).persist(StorageLevel.MEMORY_AND_DISK)
    base.count()  # one materialization; prefix explode + verify reuse it
    n = F.size("_sh")
    plen = n - F.ceil(F.lit(threshold) * n).cast("int") + 1
    # PPJoin length filter: J >= t forces t*|a| <= |b| <= |a|/t, so
    # size-incompatible candidates are dropped BEFORE the exact verify
    # - a one-integer-comparison prune on the join condition.
    def _len_ok(na, nb):
        return (nb >= F.ceil(F.lit(threshold) * na)) & (
            nb <= F.floor(na / F.lit(threshold))
        )

    if order == "lex":
        pref = base.select(
            "_id",
            "_sh",
            F.explode(F.slice("_sh", F.lit(1), plen)).alias("_tok"),
        )
        cand = (
            pref.alias("l")
            .join(
                pref.alias("r"),
                (F.col("l._tok") == F.col("r._tok"))
                & (F.col("l._id") < F.col("r._id"))
                & _len_ok(F.size("l._sh"), F.size("r._sh")),
            )
            .select(
                F.col("l._id").alias("id_a"),
                F.col("r._id").alias("id_b"),
                F.col("l._sh").alias("sh_a"),
                F.col("r._sh").alias("sh_b"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )
    elif order == "df":
        from pyspark.sql import Window

        ex = base.select(
            "_id", n.alias("_n"), F.explode("_sh").alias("_tok")
        )
        freq = ex.groupBy("_tok").agg(F.count("*").alias("_df"))
        w = Window.partitionBy("_id").orderBy("_df", "_tok")
        pref = (
            ex.join(freq, "_tok")
            .withColumn("_rn", F.row_number().over(w))
            .filter(
                F.col("_rn")
                <= F.col("_n")
                - F.ceil(F.lit(threshold) * F.col("_n")).cast("int")
                + 1
            )
            .select("_id", "_n", "_tok")
        )
        ids = (
            pref.alias("l")
            .join(
                pref.alias("r"),
                (F.col("l._tok") == F.col("r._tok"))
                & (F.col("l._id") < F.col("r._id"))
                & _len_ok(F.col("l._n"), F.col("r._n")),
            )
            .select(
                F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b")
            )
            .dropDuplicates(["id_a", "id_b"])
        )
        cand = (
            ids.join(
                base.select(
                    F.col("_id").alias("id_a"), F.col("_sh").alias("sh_a")
                ),
                "id_a",
            )
            .join(
                base.select(
                    F.col("_id").alias("id_b"), F.col("_sh").alias("sh_b")
                ),
                "id_b",
            )
        )
    else:  # pragma: no cover - caller error
        raise ValueError(f"order must be 'lex' or 'df', got {order!r}")
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_union("sh_a", "sh_b")
    )
    return (
        cand.withColumn("jaccard", F.round(jac, 6))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def connected_components(
    edges: DataFrame,
    nodes: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Connected components by min-label propagation WITH path
    compression: every node's label converges to the smallest node id
    in its component. ``nodes`` has a ``node`` column; the result is
    (node, label). A component not closed within 30 rounds raises.

    The pairs -> clusters step that turns near-dup DETECTION into
    actual DEDUPLICATION (keeper = the node whose id equals its
    cluster label; everything else in the cluster drops).

    Scale notes: each iteration is one shuffle-join of the label table
    against the (undirected) edge list plus a min-aggregate, followed
    by a label-table self-join that shortcuts ``label <- label(label)``
    (pointer jumping). Compression turns the round count from
    O(diameter) into O(log diameter): pure propagation needs one round
    per hop, so a 10-replica near-dup CHAIN (the sf1 replica corpus,
    where round 6 caught the 15-round budget exhausting) or any
    boilerplate mega-cluster at 100 TB would pay its full diameter in
    shuffle rounds; with compression the same components close in a
    handful. Min-label is a monotone lattice (labels only decrease,
    bounded by the component minimum), so interleaving propagate and
    compress steps converges to the same least fixpoint as pure
    propagation - the recursive-CTE oracle on `dedup_clusters` checks
    exactly that. ``localCheckpoint`` cuts the growing lineage each
    round so plans stay bounded. The driver loop only orchestrates;
    all data work is distributed.

    Measured breakdown (dedup_clusters at sf0.1, local[32], warm,
    round 3 - the numbers behind the two optimizations below):
      * edge generation (SimHash band join): ~1.2-3.2s - the dominant
        inherent cost; checkpointed, runs exactly ONCE. Before the
        round-3 fix the undirected union re-executed the band join
        twice inside one job (two union branches referencing the same
        uncheckpointed plan); checkpointing the directed pairs FIRST
        halves that.
      * labels init: ~0.15s.
      * per iteration: ~0.6-0.9s x diameter rounds (3 at sf0.1).
        The convergence test is a decimal SUM over the new labels -
        min-label propagation is monotone non-increasing per node, so
        the fixpoint is reached exactly when the label sum stops
        changing; the previous new-vs-old join per round cost an extra
        ~0.3s/round and is gone.
      * The remaining cost is inherent: edge join once + diameter
        shuffle rounds, the textbook lower bound for distributed CC
        without a specialized graph engine.
    """
    # Materialize the DIRECTED pairs once: the undirected union below
    # references the plan twice, and the loop joins the result every
    # round - without this boundary the upstream edge pipeline (e.g.
    # the whole SimHash band join) executes 2x in the union job and
    # once more per iteration (measured 19s -> 3.6s at sf0.1).
    directed = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).localCheckpoint()
    und = directed.unionByName(
        directed.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    labels = nodes.select("node", F.col("node").alias("label")).localCheckpoint()

    def _label_sum(df: DataFrame):
        # exact (decimal) total: labels only ever decrease, so the
        # fixpoint is reached iff this is unchanged; no overflow for
        # any node-id range / corpus size
        return df.agg(
            F.sum(F.col("label").cast("decimal(38,0)")).alias("s")
        ).collect()[0]["s"]

    prev_sum = _label_sum(labels)
    converged = False
    max_iter = 30
    for _ in range(max_iter):
        prop = und.join(labels, und["src"] == labels["node"]).select(
            F.col("dst").alias("node"), "label"
        )
        propagated = (
            labels.unionByName(prop)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        # Path compression: label <- label(label). Every label IS a
        # node id (labels start as own ids and only ever move to other
        # nodes' ids via min), so the inner self-join is total; and
        # label(x) <= x, so the shortcut only ever lowers labels -
        # staying inside the monotone lattice the convergence test
        # relies on.
        lab2 = propagated.select(
            F.col("node").alias("l_node"), F.col("label").alias("l_label")
        )
        new_labels = (
            propagated.join(lab2, propagated["label"] == lab2["l_node"])
            .select("node", F.col("l_label").alias("label"))
            .localCheckpoint()
        )
        new_sum = _label_sum(new_labels)
        labels = new_labels
        if new_sum == prev_sum:
            converged = True
            break
        prev_sum = new_sum
    if not converged:
        # Exhausting max_iter without a fixpoint round means some
        # component's diameter exceeds the budget: the labels are NOT a
        # fixpoint and returning them would silently split clusters.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "iterations (label sum still decreasing); the rounds needed "
            "grow with the largest component's diameter"
        )
    return labels


def _word_digests(text_col: Column | str) -> Column:
    """array<string>: one md5 hex digest per word token. The shared
    input both 32-bit SimHash halves (and any future band scheme)
    slice their bits from - tokenize and hash exactly once."""
    return F.transform(word_tokens(text_col), lambda t: F.md5(t))


def _simhash_from_digests(
    digests: Column, nbits: int, hex_offset: int
) -> Column:
    """SimHash over pre-computed digest strings: each token votes the
    ``nbits`` md5-derived bits that start at hex digit ``hex_offset``,
    and the signature takes the sign of each bit's vote sum. Pure
    higher-order functions - no UDF. ``nbits`` must be <= 32 so the
    power-of-two packing stays exact in double;
    :func:`simhash64_wide_from_digests` packs two 32-bit halves for the
    full 64-bit form."""
    hashes = F.transform(
        digests,
        lambda d: F.conv(
            F.substring(d, hex_offset, nbits // 4), 16, 10
        ).cast("long"),
    )
    # One pass over the token hashes, accumulating all per-bit votes in
    # an array state (vs nbits separate aggregates re-hashing the text).
    bit_votes = F.aggregate(
        hashes,
        F.array_repeat(F.lit(0), nbits),
        lambda acc, h: F.zip_with(
            acc,
            F.sequence(F.lit(0), F.lit(nbits - 1)),
            lambda a, b: a + F.when(F.getbit(h, b) == 1, 1).otherwise(-1),
        ),
    )
    # Set bit b as 2^b (exact in double for b < 53; nbits is 16 or 32
    # here - a 64-bit variant would use two 32-bit halves). Each bit
    # contributes once, so sum == bitwise OR.
    return (
        F.aggregate(
            F.zip_with(
                bit_votes,
                F.sequence(F.lit(0), F.lit(nbits - 1)),
                lambda vote, b: F.when(vote > 0, F.pow(F.lit(2.0), b)).otherwise(
                    F.lit(0.0)
                ),
            ),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
        .cast("long")
    )


def simhash64_wide_from_digests(digests: Column) -> Column:
    """True 64-bit SimHash from a pre-staged digest array column: two
    independent 32-bit halves voting over DISJOINT md5 hex ranges
    (digits 1-8 and 9-16), packed bitwise into one long -
    ``hi << 32 | lo``. The packing is integer arithmetic
    (shiftleft/bitwiseOR on long), so all 64 bits are exact; the sign
    bit is just bit 63. Hamming distance and band extraction work
    unchanged: ``bit_count(xor)`` is a 64-bit popcount, and band masks
    ``(sig >> k) & m`` are sign-safe because the mask discards the
    sign-extended high bits. Stage ``_word_digests`` as its own column
    first (as simhash_pairs does) so the md5 pass runs once, not once
    per half."""
    lo = _simhash_from_digests(digests, nbits=32, hex_offset=1)
    hi = _simhash_from_digests(digests, nbits=32, hex_offset=9)
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def simhash_pairs(
    df: DataFrame,
    nbits: int = 16,
    max_hamming: int = 2,
    band_bits: int = 4,
) -> DataFrame:
    """SimHash near-dup pairs via banded candidate generation: split the
    signature into ``nbits/band_bits`` bands; a pair differing in <=
    max_hamming bits must agree exactly on at least one band (pigeonhole
    when bands > max_hamming), so the self-join runs per band bucket,
    never all-pairs. ``nbits=64`` uses the wide two-half signature."""
    nbands = nbits // band_bits
    if nbands <= max_hamming:
        raise ValueError(
            f"banding needs nbits/band_bits > max_hamming for exactness "
            f"(got {nbands} bands, max_hamming={max_hamming})"
        )
    # Stage the md5 digest array as a real attribute, then derive the
    # signature from it: for the 64-bit form both halves reference the
    # digests, and CollapseProject keeps the expensive reused alias
    # un-inlined (SPARK-36718) - tokenize+md5 run ONCE instead of
    # twice (same fix as the minhash base build).
    sig_expr = (
        simhash64_wide_from_digests(F.col("_dig"))
        if nbits == 64
        else _simhash_from_digests(F.col("_dig"), nbits, hex_offset=1)
    )
    sig = (
        df.select(F.col(_ID).alias("_id"), _word_digests(_TEXT).alias("_dig"))
        .withColumn("_sig", sig_expr)
        .select("_id", "_sig")
        .persist(StorageLevel.MEMORY_AND_DISK)
    )
    sig.count()  # eager: banding + pair join both read it (see minhash note)
    band_exprs = [
        F.concat_ws(
            "|",
            F.lit(str(b)),
            F.shiftright(F.col("_sig"), b * band_bits)
            .bitwiseAND(F.lit((1 << band_bits) - 1))
            .cast("string"),
        ).alias("band_key")
        for b in range(nbands)
    ]
    banded = sig.select("_id", "_sig", F.explode(F.array(*band_exprs)).alias("band_key"))
    cand = (
        banded.alias("l")
        .join(
            banded.alias("r"),
            (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            F.col("l._sig").alias("sig_a"),
            F.col("r._sig").alias("sig_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def contamination_report(df: DataFrame, holdout: Column) -> DataFrame:
    """Benchmark decontamination: flag training docs that share at least
    one 3-token shingle with any holdout (benchmark/eval) document.

    The dedup machinery pointed at the train/eval boundary - the check
    every pre-training corpus needs before a benchmark number means
    anything. ``holdout`` is a boolean Column over ``df`` selecting the
    benchmark partition; the rest of ``df`` is the training corpus.

    Returns one row per contaminated training doc:
    (doc_id, n_shingle_hits = distinct overlapping shingles,
     n_bench_docs = distinct benchmark docs overlapped).

    Scale shape: the benchmark side is tiny relative to a 100 TB corpus
    (thousands of eval docs vs billions of training docs), so its
    exploded shingle set is broadcast - the training side streams
    map-side through the join with NO shuffle of the big exploded
    relation; the only exchange is the groupBy on the (post-filter,
    sparse) hit doc ids.
    """
    base = df.select(
        F.col(_ID).alias("_id"),
        shingles(_TEXT, k=_SHINGLE_K).alias("_sh"),
        holdout.alias("_hold"),
    )
    hold = base.filter(F.col("_hold")).select(
        F.col("_id").alias("_bench_id"), F.explode("_sh").alias("_s")
    )
    train = base.filter(~F.col("_hold")).select("_id", F.explode("_sh").alias("_s"))
    return (
        train.join(F.broadcast(hold), "_s")
        .groupBy("_id")
        .agg(
            F.countDistinct("_s").alias("n_shingle_hits"),
            F.countDistinct("_bench_id").alias("n_bench_docs"),
        )
        .select(F.col("_id").alias(_ID), "n_shingle_hits", "n_bench_docs")
    )
