"""Iterative graph algorithms on edge-list DataFrames.

PageRank here runs ENTIRELY in fixed-point BIGINT arithmetic (ranks in
1e-12 units): contribution = rank div out_degree, update = base +
(damping * sum) div 100, all integer ops - so the distributed sums are
bit-exact regardless of partition count or aggregation order. That is
what makes an ITERATIVE algorithm reproducible enough to value-check
across engines (plans/catalog_r6.py states the same fixpoint as
chained SQL CTEs) and across cluster sizes.

Scale shape per iteration: one shuffle-join of the edge list against
the current rank vector (both partitioned on ``src``) plus one
hash-agg by ``dst``. The loop-invariant node-set and out-degree tables
are lazily localCheckpoint()ed INSIDE the operator (one materialization
reused across rounds); callers additionally checkpoint the EDGE list
once (the catalog entry does) so its derivation pipeline never replays
- the same lineage-cut pattern as
``operators.dedup.connected_components``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

# 1.0 in fixed-point 1e-12 units.
PR_INIT = 1_000_000_000_000
# 0.15 teleport mass (damping 0.85).
PR_BASE = 150_000_000_000


def pagerank_fixed_point(edges: DataFrame) -> DataFrame:
    """Fixed-point PageRank over a directed edge list.

    ``edges`` must have ``src`` and ``dst`` columns (any integral
    type; the caller guarantees distinct edges). Returns one row per
    node with its ``rank`` after 3 rounds, starting from ``PR_INIT``.
    Dangling nodes (no outgoing edges) contribute nothing; nodes with
    no incoming edges settle at ``PR_BASE``. All arithmetic is integer
    (div, not /), so results are exactly reproducible at any
    parallelism - see the module docstring.
    """
    # Both tables are consumed once per iteration plus the final
    # projection; without a boundary the union+distinct (nodes) and the
    # degree count (outdeg) replay inside every iteration's plan -
    # measured at sf0.1: best-of-4 2.54s -> 2.27s with the checkpoints,
    # and the variance tail tightens. Same rationale as the edge-stage
    # checkpoints in triangle_counts. eager=False: materialize at the
    # first ACTION, not at plan build - explain() callers
    # must not trigger Spark jobs as a side effect of construction.
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    # The per-edge out-degree is loop-INVARIANT: join it onto the edge
    # list once, outside the loop, so each iteration is one join + one
    # aggregate instead of two joins + one aggregate (the d column
    # rides with the edge). The arithmetic is unchanged - rank div d
    # per edge - so the local-oracle property tests still pin results
    # bit-exactly.
    edges_d = (
        edges.join(
            edges.groupBy("src").agg(F.count("*").alias("d")), "src"
        )
        .select("src", "dst", "d")
        .localCheckpoint(eager=False)
    )
    ranks = nodes.select("node", F.lit(PR_INIT).cast("long").alias("rank"))
    for _ in range(3):
        contrib = edges_d.join(
            ranks, edges_d["src"] == ranks["node"]
        ).select("dst", F.expr("`rank` div `d`").alias("c"))
        inc = contrib.groupBy("dst").agg(F.sum("c").alias("inc"))
        ranks = nodes.join(inc, nodes["node"] == inc["dst"], "left").select(
            "node",
            (
                F.lit(PR_BASE)
                + F.expr("(85 * coalesce(inc, 0)) div 100")
            ).alias("rank"),
        )
    return ranks


def triangle_counts(edges: DataFrame) -> DataFrame:
    """Per-node triangle counts via degree-oriented wedge closing.

    ``edges`` is an UNDIRECTED edge list with ``u``/``v`` columns and
    each edge listed exactly once (any orientation, no self-loops).
    Returns ``(node, n_triangles)`` for every node in >= 1 triangle.

    The scale argument is the orientation: every edge is re-directed
    from its lower-(degree, id) endpoint to the higher one, which
    turns the undirected triangle (a,b,c) into exactly ONE directed
    wedge u->v, u->w closed by v->w - no triple counting to divide
    out, and, critically, the wedge fan-out per node is bounded by
    the ORIENTED out-degree, which is O(sqrt(m)) for any graph
    (a node of degree d only keeps neighbors of degree >= d, and
    there can be at most 2m/d of those). A hub with 10M neighbors in
    a 100 TB edge list produces ~sqrt(m) wedges instead of 10M^2 -
    this is what makes the wedge self-join survive skew. Both joins
    shuffle on the wedge apex / edge key; no driver state, no
    iteration.

    Cross-checked two ways: a brute-force oracle under hypothesis in
    tests/test_properties.py, and the DuckDB ordered 3-way self-join
    oracle of the ``triangle_count`` catalog entry (plans/catalog_r7.py).
    """
    # Materialization boundaries: `und` feeds the degree union (2x)
    # plus the orientation join, and `oriented` feeds e1/e2/closing
    # (3x). Without the checkpoints the caller's whole edge-derivation
    # pipeline (e.g. the lineitem collect_set+explode in the catalog
    # entry) re-executes once per consumer - measured at sf0.1:
    # best-of-3 3.03s -> 2.54s, and the variance tail (6.5s outliers)
    # collapses. At cluster scale these are the intermediate edge
    # tables a deployment writes between stages.
    und = edges.select(
        F.least("u", "v").alias("a"), F.greatest("u", "v").alias("b")
    ).localCheckpoint()
    deg = (
        und.select(F.col("a").alias("node"))
        .union(und.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    # Orient a->b when (deg,id) of a < (deg,id) of b: a total order, so
    # every edge gets exactly one direction.
    withdeg = (
        und.join(deg.withColumnsRenamed({"node": "a", "deg": "da"}), "a")
        .join(deg.withColumnsRenamed({"node": "b", "deg": "db"}), "b")
    )
    a_first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    oriented = withdeg.select(
        F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("src"),
        F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("dst"),
        F.when(a_first, F.col("db")).otherwise(F.col("da")).alias("ddeg"),
    ).localCheckpoint()
    # Wedges u->v, u->w with (deg,id) of v < w; the closing edge, if it
    # exists, is oriented v->w by construction.
    e1 = oriented.select("src", F.col("dst").alias("v"), F.col("ddeg").alias("dv"))
    e2 = oriented.select("src", F.col("dst").alias("w"), F.col("ddeg").alias("dw"))
    wedges = e1.join(e2, "src").where(
        (F.col("dv") < F.col("dw"))
        | ((F.col("dv") == F.col("dw")) & (F.col("v") < F.col("w")))
    )
    closing = oriented.select(
        F.col("src").alias("v"), F.col("dst").alias("w")
    )
    tris = wedges.join(closing, ["v", "w"]).select(
        F.col("src").alias("x"), "v", "w"
    )
    return (
        tris.select(F.explode(F.array("x", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )
