"""Property-based tests (hypothesis) for the semantics-critical
operators: the pandas-faithful keep-first dedup, the upsert key
algebra, and the total (never-throwing) time parser.

These pin behavior on arbitrary inputs, not just the curated fixtures -
the reference's subtle semantics (SURVEY.md section 7 hard parts) are
exactly the kind that break on unconsidered shapes.
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from formula1_etl_analytics_project_spark.operators.dedup import dedup_keep_first
from formula1_etl_analytics_project_spark.operators.graph import PR_BASE, PR_INIT
from formula1_etl_analytics_project_spark.sources.sinks import upsert

SETTINGS = settings(max_examples=20, deadline=None)

rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=5),  # key: few values -> collisions
        st.integers(min_value=-1000, max_value=1000),  # payload
    ),
    min_size=1,
    max_size=30,
)


@given(rows=rows_strategy)
@SETTINGS
def test_keep_first_matches_pandas(spark, rows):
    """dedup_keep_first over (key asc, file order) == pandas
    sort_values(stable).drop_duplicates(keep='first') - the reference's
    sort-then-dedup move (CompleteETL.py:25-37) on ANY input."""
    pdf = pd.DataFrame(rows, columns=["k", "v"]).reset_index(names="_row_id")
    expected = (
        pdf.sort_values("k", kind="stable")
        .drop_duplicates("k", keep="first")[["k", "v"]]
        .sort_values(["k", "v"])
        .values.tolist()
    )
    sdf = spark.createDataFrame(pdf[["k", "v", "_row_id"]])
    got = (
        dedup_keep_first(sdf, ["k"], ["k", "_row_id"])
        .select("k", "v")
        .orderBy("k", "v")
        .collect()
    )
    assert [[r["k"], r["v"]] for r in got] == expected


@given(existing=rows_strategy, incoming=rows_strategy)
@SETTINGS
def test_upsert_key_algebra(spark, existing, incoming):
    """After upsert: key set = union; every incoming key holds exactly
    the incoming rows; existing rows survive iff their key is absent
    from incoming (J3 MERGE semantics)."""
    edf = spark.createDataFrame(pd.DataFrame(existing, columns=["k", "v"]))
    idf = spark.createDataFrame(pd.DataFrame(incoming, columns=["k", "v"]))
    merged = upsert(edf, idf, keys=["k"]).collect()

    e_keys = {k for k, _ in existing}
    i_keys = {k for k, _ in incoming}
    got_keys = {r["k"] for r in merged}
    assert got_keys == e_keys | i_keys

    got_pairs = sorted((r["k"], r["v"]) for r in merged)
    expected_pairs = sorted(
        [(k, v) for k, v in incoming]
        + [(k, v) for k, v in existing if k not in i_keys]
    )
    assert got_pairs == expected_pairs


@given(existing=rows_strategy, incoming=rows_strategy)
@SETTINGS
def test_upsert_order_col_keeps_last_per_key(spark, existing, incoming):
    """With order_col, a multi-update batch resolves deterministically
    to the HIGHEST order_col row per key (last-wins MERGE rule), so the
    snapshot's key-uniqueness invariant survives duplicate incoming
    keys."""
    epdf = pd.DataFrame(existing, columns=["k", "v"])
    epdf["seq"] = -1
    edf = spark.createDataFrame(epdf)
    ipdf = pd.DataFrame(incoming, columns=["k", "v"])
    ipdf["seq"] = range(len(ipdf))
    idf = spark.createDataFrame(ipdf)
    merged = upsert(edf, idf, keys=["k"], order_col="seq")
    rows = merged.collect()

    i_keys = {k for k, _ in incoming}
    # every incoming key appears exactly once (existing rows may carry
    # duplicate keys of their own; MERGE only governs matched keys)
    inc_counts = [r["k"] for r in rows if r["k"] in i_keys]
    assert len(inc_counts) == len(set(inc_counts))
    # each incoming key carries its LAST batch value
    last = {}
    for k, v in incoming:
        last[k] = v
    for r in rows:
        if r["k"] in i_keys:
            assert r["v"] == last[r["k"]], (r["k"], r["v"], last[r["k"]])


time_like = st.one_of(
    st.none(),
    st.text(max_size=12),
    st.from_regex(r"[0-9]{1,3}:[0-9]{1,2}:[0-9]{1,2}", fullmatch=True),
    st.times().map(lambda t: t.strftime("%H:%M:%S")),
)


@given(values=st.lists(time_like, min_size=1, max_size=30))
@SETTINGS
def test_parse_time_total_and_shaped(spark, values):
    """parse_time never throws on arbitrary input (F6 permissive-cast
    semantics) and every non-null output is HH:mm:ss-shaped; valid
    clock strings round-trip."""
    from formula1_etl_analytics_project_spark.functions.cleaning import parse_time

    pdf = pd.DataFrame({"s": pd.array(values, dtype="string")})
    sdf = spark.createDataFrame(pdf)
    out = sdf.select(
        "s", parse_time(F.col("s")).alias("t")
    ).collect()
    import re

    for r in out:
        if r["t"] is not None:
            assert re.fullmatch(r"\d{2}:\d{2}:\d{2}", r["t"]), r
        if r["s"] is not None and re.fullmatch(
            r"([01]\d|2[0-3]):[0-5]\d:[0-5]\d", r["s"]
        ):
            assert r["t"] == r["s"], r


edges_strategy = st.lists(
    st.tuples(
        st.integers(min_value=-6, max_value=6),  # small id space -> dense
        st.integers(min_value=-6, max_value=6),
    ),
    min_size=1,
    max_size=40,
)


def pagerank_fixed_point_local(
    edge_list: list[tuple[int, int]],
    iterations: int = 3,
    init: int = PR_INIT,
    base: int = PR_BASE,
    damping_pct: int = 85,
) -> dict[int, int]:
    """Pure-Python reference fixpoint with IDENTICAL integer
    arithmetic - the oracle for property tests: on any graph, the
    distributed iteration must reproduce this exactly."""
    edges = sorted(set(edge_list))
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    outdeg: dict[int, int] = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    ranks = {n: init for n in nodes}
    for _ in range(iterations):
        inc: dict[int, int] = {}
        for s, d in edges:
            inc[d] = inc.get(d, 0) + ranks[s] // outdeg[s]
        ranks = {
            n: base + (damping_pct * inc.get(n, 0)) // 100 for n in nodes
        }
    return ranks


@given(edge_list=edges_strategy)
@SETTINGS
def test_pagerank_matches_pure_python_fixpoint(spark, edge_list):
    """The distributed fixed-point PageRank must reproduce the
    pure-Python reference EXACTLY on any graph (self-loops, dangling
    nodes, isolated sources, cycles): integer arithmetic means there
    is no tolerance - a single-unit drift is a bug in the iteration
    structure, not rounding."""
    from formula1_etl_analytics_project_spark.operators.graph import pagerank_fixed_point

    distinct_edges = sorted(set(edge_list))
    edges = spark.createDataFrame(distinct_edges, ["src", "dst"])
    got = {
        r["node"]: r["rank"]
        for r in pagerank_fixed_point(edges).collect()
    }
    assert got == pagerank_fixed_point_local(distinct_edges, iterations=3)


baskets_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),  # basket id
        st.integers(min_value=0, max_value=8),  # item id
    ),
    min_size=1,
    max_size=30,
)


@given(rows=baskets_strategy)
@SETTINGS
def test_basket_pair_expansion_matches_itertools(spark, rows):
    """The JVM-side pair expansion (collect_set -> sorted array ->
    transform/slice -> explode) behind supplier_cooccurrence must
    enumerate exactly itertools.combinations(sorted(distinct items), 2)
    per basket - no dropped, duplicated, or unordered pairs."""
    import itertools

    from collections import Counter

    expected: Counter = Counter()
    baskets: dict[int, set] = {}
    for b, i in rows:
        baskets.setdefault(b, set()).add(i)
    for items in baskets.values():
        for a, c in itertools.combinations(sorted(items), 2):
            expected[(a, c)] += 1

    df = spark.createDataFrame(rows, ["l_orderkey", "l_suppkey"])
    sets = (
        df.groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("l_suppkey")).alias("ss"))
        .filter(F.size("ss") >= 2)
    )
    pairs = sets.select(
        F.explode(
            F.flatten(
                F.transform(
                    "ss",
                    lambda x, i: F.transform(
                        F.slice(
                            "ss",
                            i + 2,
                            F.greatest(F.size("ss") - i - 1, F.lit(0)),
                        ),
                        lambda y: F.struct(x.alias("a"), y.alias("b")),
                    ),
                )
            )
        ).alias("p")
    ).select("p.a", "p.b")
    got = Counter((r["a"], r["b"]) for r in pairs.collect())
    assert got == expected


merge_rows_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=100),  # key (orderkey stand-in)
        st.integers(min_value=0, max_value=3),  # group
        st.integers(min_value=-10_000, max_value=10_000),  # amount (cents)
    ),
    min_size=1,
    max_size=40,
)


@given(rows=merge_rows_strategy, k=st.integers(min_value=2, max_value=9))
@SETTINGS
def test_partial_aggregate_merge_equals_full_recompute(spark, rows, k):
    """The incremental_agg_merge contract on arbitrary data and an
    arbitrary batch split: aggregating state and batch separately and
    merging the (count, sum) partials must equal aggregating
    everything at once - for ANY split modulus, including splits
    where one side is empty. Integer amounts make the check exact."""
    df = spark.createDataFrame(rows, ["id", "grp", "amt"])

    def partial(d):
        return d.groupBy("grp").agg(
            F.count("*").alias("pn"), F.sum("amt").alias("ps")
        )

    merged = (
        partial(df.filter(F.col("id") % k != 0))
        .unionByName(partial(df.filter(F.col("id") % k == 0)))
        .groupBy("grp")
        .agg(F.sum("pn").alias("n"), F.sum("ps").alias("s"))
    )
    full = df.groupBy("grp").agg(
        F.count("*").alias("n"), F.sum("amt").alias("s")
    )
    assert sorted(map(tuple, merged.collect())) == sorted(
        map(tuple, full.collect())
    )


undirected_edges_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=8),  # small id space -> triangles
        st.integers(min_value=0, max_value=8),
    ),
    min_size=1,
    max_size=30,
).map(lambda es: [(a, b) for a, b in es if a != b])


def triangle_counts_local(
    edge_list: list[tuple[int, int]],
) -> dict[int, int]:
    """Brute-force per-node triangle counts - the property-test oracle."""
    und = {(min(a, b), max(a, b)) for a, b in edge_list if a != b}
    adj: dict[int, set[int]] = {}
    for a, b in und:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    counts: dict[int, int] = {}
    for a, b in und:
        for c in adj[a] & adj[b]:
            if c > b:  # a < b < c: each triangle found once
                for n in (a, b, c):
                    counts[n] = counts.get(n, 0) + 1
    return counts


@given(edge_list=undirected_edges_strategy)
@SETTINGS
def test_triangle_counts_match_brute_force(spark, edge_list):
    """Degree-oriented wedge closing must count exactly the triangles
    the brute-force intersection oracle finds, per node, on any
    graph — duplicate orientations and degree ties included (the
    orientation's (deg, id) tiebreak is the part a subtle bug would
    break)."""
    from formula1_etl_analytics_project_spark.operators.graph import triangle_counts

    distinct = sorted({(min(a, b), max(a, b)) for a, b in edge_list})
    if not distinct:
        return
    edges = spark.createDataFrame(distinct, ["u", "v"])
    got = {
        r["node"]: r["n_triangles"] for r in triangle_counts(edges).collect()
    }
    assert got == triangle_counts_local(edge_list)


points_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=20),  # x: minimize
        st.integers(min_value=-5, max_value=25),  # y: maximize (int -> exact)
    ),
    min_size=1,
    max_size=30,
)


def pareto_frontier_2d_local(
    points: list[tuple[int, float]],
) -> set[tuple[int, float]]:
    """Brute-force O(n^2) dominance oracle for property tests."""
    return {
        (xi, yi)
        for xi, yi in points
        if not any(
            (xj <= xi and yj >= yi and (xj < xi or yj > yi))
            for xj, yj in points
        )
    }


@given(points=points_strategy)
@SETTINGS
def test_pareto_frontier_matches_brute_force(spark, points):
    """The bucket-pruned skyline must return exactly the brute-force
    dominance oracle's frontier on any point set — coordinate ties,
    duplicate points, and bucket-boundary cases included (the prune's
    losslessness is the property under test)."""
    from formula1_etl_analytics_project_spark.operators.skyline import pareto_frontier_2d

    distinct = sorted(set(points))
    df = spark.createDataFrame(distinct, "x int, y int")
    got = {
        (r["x"], r["y"]) for r in pareto_frontier_2d(df, "x", "y").collect()
    }
    assert got == pareto_frontier_2d_local(distinct)


docs_strategy = st.lists(
    st.text(alphabet="abc ", min_size=0, max_size=12),
    min_size=1,
    max_size=12,
)


@given(texts=docs_strategy, query=st.text(alphabet="abc ", min_size=3, max_size=6))
@SETTINGS
def test_trigram_candidates_superset_of_matches(spark, texts, query):
    """The trigram index prefilter (catalog entry trigram_search) must
    be LOSSLESS: every doc whose normalized text contains the
    normalized query must survive the all-query-trigrams candidate
    intersection. (The reverse containment is what the instr verify
    is for - candidates may overshoot, never undershoot.)"""
    from pyspark.sql import functions as F

    q = " ".join(query.lower().split())
    if len(q) < 3:
        return
    qtris = sorted({q[i : i + 3] for i in range(len(q) - 2)})
    rows = [(i, " ".join(t.lower().split())) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, n string")
    index = df.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.expr(
                    "transform(sequence(1, greatest(length(n) - 2, 1)),"
                    " i -> substring(n, i, 3))"
                )
            )
        ).alias("tri"),
    )
    cands = {
        r["doc_id"]
        for r in index.where(F.col("tri").isin(qtris))
        .groupBy("doc_id")
        .agg(F.countDistinct("tri").alias("k"))
        .where(F.col("k") == len(qtris))
        .collect()
    }
    true_matches = {i for i, n in rows if q in n}
    assert true_matches <= cands


events_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=3),   # user
        st.integers(min_value=0, max_value=13),  # day number
    ),
    min_size=1,
    max_size=40,
)


@given(rows=events_strategy)
@SETTINGS
def test_sliding_distinct_matches_brute_force(spark, rows):
    """The contribution-explode form of trailing-7-day distinct users
    (catalog entry sliding_distinct_users) must equal the brute-force
    per-day set union on any activity pattern - including gap days,
    which the observed-days clip must drop, and users active on many
    days of one window, which must count once."""
    import datetime

    from pyspark.sql import functions as F

    base = datetime.date(2024, 1, 1)
    pairs = sorted({(u, base + datetime.timedelta(days=d)) for u, d in rows})
    df = spark.createDataFrame(pairs, "user_id long, d date")
    days = df.select("d").distinct()
    contrib = df.select(
        "user_id", F.explode(F.sequence(F.lit(0), F.lit(6))).alias("i"), "d"
    ).select("user_id", F.date_add("d", F.col("i")).alias("win_day"))
    got = {
        (r["win_day"], r["n"])
        for r in contrib.join(
            days.withColumnRenamed("d", "win_day"), "win_day", "semi"
        )
        .groupBy("win_day")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    observed = {d for _, d in pairs}
    want = {
        (day, len({u for u, d in pairs if 0 <= (day - d).days <= 6}))
        for day in observed
    }
    assert got == want


# ---------------------------------------------------------------------------
# CDC apply_changes == sequential per-key replay (any feed, any order)
# ---------------------------------------------------------------------------

cdc_feed_strategy = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),          # key (collisions)
        st.sampled_from(["I", "U", "D"]),               # op
        st.integers(min_value=-100, max_value=100),     # payload
    ),
    min_size=0,
    max_size=25,
)


@given(snapshot=rows_strategy, feed=cdc_feed_strategy)
@SETTINGS
def test_apply_changes_matches_sequential_replay(spark, snapshot, feed):
    """apply_changes collapses a change feed to the latest op per key
    in ONE window pass; the ground truth is replaying every change in
    seq order against a dict. The two must agree on any feed - mixed
    I/U/D, deletes of absent keys, re-inserts after delete."""
    from formula1_etl_analytics_project_spark.sources.sinks import apply_changes

    snap_dict = {}
    for k, v in snapshot:
        snap_dict[k] = v  # last wins: mimic a key-unique snapshot
    replay = dict(snap_dict)
    for seq, (k, op, v) in enumerate(feed):
        if op == "D":
            replay.pop(k, None)
        else:
            replay[k] = v

    snap_df = spark.createDataFrame(
        [(k, v) for k, v in snap_dict.items()] or [(None, None)],
        "k int, v int",
    ).filter(F.col("k").isNotNull())
    feed_df = spark.createDataFrame(
        [(k, v, op, seq) for seq, (k, op, v) in enumerate(feed)]
        or [(None, None, None, None)],
        "k int, v int, op string, seq int",
    ).filter(F.col("k").isNotNull())

    got = {
        r["k"]: r["v"]
        for r in apply_changes(
            snap_df, feed_df, keys=["k"], seq_col="seq"
        ).collect()
    }
    assert got == replay
