"""The benchmark's workloads. Each one sets up, then runs a closed loop of
operations for a fixed time and checks every result.

A workload returns an :class:`Outcome`: setup time, per-operation
latencies, the wall time of the timed loop, attempted and failed counts,
and (traced run only) its tracer and per-layer numbers. A traced run
traces half its operations, interleaved with untraced ones under the
same session and warm-up state, and the tracing overhead is the
difference of their medians.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import random
import shutil
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

from gen import FACT_COLUMNS, Expected, MergeStream, Scale, generate
from tracing import Tracer, install_layer_wrappers

# Input size: 5 seasons x 20 races x 20 drivers x up to 10 laps, ~19.4k
# wide rows (9 MB CSV). A full load is bound by the ~85 Spark jobs it
# starts, not by rows (a warm load takes ~9 s on 4 cores at 19k rows
# and ~11 s at 58k), and the dashboard tables' size does not depend on
# laps, so a larger input would mostly lengthen every run's setup.
SCALE = Scale(seasons=5, races_per_season=20, drivers=20, laps=10)
MERGE_BATCH_ROWS = 100
MERGE_KEYS = ["raceId", "driver_id", "lap"]
SERVING_CLIENTS = 2
# Fewest timed operations per run, whatever --seconds says. At the
# declared run length these counts, not the clock, end a run, so every
# run times the same operations: a loop that stops at a time does fewer
# operations on a slower host and so also stops earlier on the JIT's
# warm-up curve, which amplified the host's noise. 4 full loads take
# ~33 s on 4 cores; 10 blocks of the serving mix (~18 s) hold 10 merges,
# so op_p95_ms falls among the merges in every run.
MIN_OPS = {"etl_full_load": 4, "star_serving": 70}
# The star tables the dashboard queries read.
DASHBOARD_TABLES = [
    "date_dim", "location_dim", "status_dim", "driver", "team", "race",
    "pit_stop", "results",
]


@dataclass
class Outcome:
    setup_s: float = 0.0
    lat_ms: list[float] = field(default_factory=list)
    wall_s: float = 0.0
    ops_per_s: float = 0.0  # sum over clients of timed operations / that client's busy time
    loop_start_ms: int = 0  # epoch ms at the start of the timed loop
    attempted: int = 0
    failed: int = 0
    traced_lat_ms: list[float] = field(default_factory=list)
    tracer: Tracer | None = None
    layers: dict[str, float] = field(default_factory=dict)

    def fail_setup(self, msg: str) -> Outcome:
        log(msg)
        self.attempted, self.failed = 1, 1
        return self


@dataclass
class Ctx:
    spark: object
    work: str
    seed: int
    seconds: float
    trace: bool
    get_spark_s: float
    scale: Scale = SCALE
    min_ops: int | None = None  # None: the workload's MIN_OPS

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _generate(ctx: Ctx) -> tuple[str, Expected, float]:
    """Generate the wide CSV; return its path, what it holds and the time
    generation took."""
    path = ctx.path("wide.csv")
    t = time.perf_counter()
    exp = generate(path, ctx.seed, ctx.scale)
    return path, exp, time.perf_counter() - t


def _op_span(tracer: Tracer | None, name: str):
    """A span around one operation, when the calling thread traces."""
    return tracer.span(name) if tracer is not None and tracer.active else contextlib.nullcontext()


def _closed_loop(ctx: Ctx, out: Outcome, name: str, op, clients: int = 1, block: int = 1) -> None:
    """Run ``op()`` -> (latency_ms, ok) in a closed loop: each client
    starts its next operation when its previous one ends, until
    ``ctx.seconds`` have passed, at least the workload's minimum number
    of operations has been attempted, and that number is a multiple of
    ``block`` (whole blocks of a seeded mix keep its shares exact, so a
    percentile falls on the same kind of operation in every run). A
    failed or wrong operation is counted and the loop goes on. A traced
    run traces operations in the order untraced, traced, traced,
    untraced, ..., so a drift over the run (JIT still warming) adds as
    much to either kind."""
    tracer = out.tracer
    min_ops = MIN_OPS[name] if ctx.min_ops is None else ctx.min_ops
    if tracer is not None:
        min_ops = max(min_ops, 4)  # one untraced-traced-traced-untraced block
    lock = threading.Lock()
    out.loop_start_ms = int(time.time() * 1000)
    t0 = time.perf_counter()
    deadline = t0 + ctx.seconds

    def client() -> None:
        done, last_end = 0, t0
        while True:
            with lock:
                if time.perf_counter() >= deadline and out.attempted >= min_ops and out.attempted % block == 0:
                    # A client's rate ends with its own last operation,
                    # not with the other clients' last ones.
                    if done:
                        out.ops_per_s += done / (last_end - t0)
                    return
                k = out.attempted
                out.attempted += 1
            traced = tracer is not None and k % 4 in (1, 2)
            ms, ok = None, False
            try:
                with tracer.tracing(traced) if tracer is not None else contextlib.nullcontext():
                    ms, ok = op()
            except Exception:
                traceback.print_exc(file=sys.stderr)
            with lock:
                if not ok:
                    out.failed += 1
                if ms is not None:
                    (out.traced_lat_ms if traced else out.lat_ms).append(ms)
                    done, last_end = done + 1, time.perf_counter()

    if tracer is not None:
        install_layer_wrappers(tracer)
    try:
        threads = [threading.Thread(target=client) for _ in range(clients)]
        for th in threads:
            th.start()
        for th in threads:
            th.join()
    finally:
        if tracer is not None:
            tracer.restore()
    out.wall_s = time.perf_counter() - t0


def _dir_files(path: str) -> dict[str, int]:
    files = {}
    for d, _, names in os.walk(path):
        for n in names:
            if n.startswith("part-"):
                p = os.path.join(d, n)
                files[p] = os.path.getsize(p)
    return files


def _new_outcome(ctx: Ctx) -> Outcome:
    return Outcome(tracer=Tracer(ctx.spark.sparkContext) if ctx.trace else None)


# ---------------------------------------------------------------------------
# etl_full_load
# ---------------------------------------------------------------------------


def etl_full_load(ctx: Ctx) -> Outcome:
    from formula1_etl_analytics_project_spark import etl

    out = _new_outcome(ctx)
    csv_path, exp, gen_s = _generate(ctx)
    # The first load in a JVM takes ~2.3x a warm one (JIT, codegen); the
    # initial load absorbs it, and the timed loads follow it directly.
    t = time.perf_counter()
    counts = etl.run_etl(ctx.spark, csv_path, ctx.path("star_setup"))
    load_s = time.perf_counter() - t
    out.setup_s = ctx.get_spark_s + gen_s + load_s
    if counts != exp.tables:
        return out.fail_setup(f"initial load counts {counts} != expected {exp.tables}")
    shutil.rmtree(ctx.path("star_setup"))
    log(f"setup {out.setup_s:.2f}s (initial load {load_s:.2f}s, {exp.wide_rows} wide rows)")

    tracer = out.tracer
    written: list[dict[str, int]] = []
    n = itertools.count()

    def op():
        i = next(n)
        # A fresh input path per load: a plan over the same path could
        # match data a previous load left cached.
        src, dst = ctx.path(f"wide_{i}.csv"), ctx.path(f"star_{i}")
        os.link(csv_path, src)
        try:
            t0 = time.perf_counter()
            with _op_span(tracer, "etl.run_etl"):
                got = etl.run_etl(ctx.spark, src, dst)
            ms = (time.perf_counter() - t0) * 1000
            if got != exp.tables:
                log(f"load counts {got} != expected {exp.tables}")
            if tracer is not None and tracer.active:
                written.append(_dir_files(dst))
        finally:
            shutil.rmtree(dst, ignore_errors=True)
            os.remove(src)
        return ms, got == exp.tables

    _closed_loop(ctx, out, "etl_full_load", op)
    if tracer is not None:
        out.layers.update(_etl_layers(tracer, exp, written))
    return out


def _etl_layers(tracer: Tracer, exp: Expected, written) -> dict[str, float]:
    runs = tracer.by_name("etl.run_etl")
    n = max(1, len(runs))
    layers = {
        "etl.run_etl_self_s": sum(tracer.self_time(s) for s in runs) / n,
        "sinks.files_written": sum(len(w) for w in written) / n,
        "sinks.bytes_written": sum(sum(w.values()) for w in written) / n,
        "dedup.keep_ratio": sum(exp.tables.values()) / exp.wide_rows,
    }
    for table, rows in exp.tables.items():
        layers[f"star.{table}.rows"] = rows
    return layers


# ---------------------------------------------------------------------------
# star_serving: dashboard queries over the star, merges into the lap fact
# ---------------------------------------------------------------------------

MERGE = "merge"
QUERIES = [
    "driver_standings_recompute",
    "fastest_lap_ranking",
    "pitstop_aggregates",
    "season_team_rollup",
    "reconstruct_wide",
    "sql_season_team_points",
]


def query_layer(name: str) -> str:
    """The per-layer metric that holds query ``name``'s traced median."""
    if name == "reconstruct_wide":
        return "star.reconstruct_wide_ms"
    if name == "sql_season_team_points":
        return "sql.season_team_points_ms"
    return f"analytics.{name}_ms"


def _query_fns(spark, star_tables):
    from formula1_etl_analytics_project_spark.plans import analytics, star
    from oracle import SQL_SEASON_TEAM_POINTS

    s = star_tables
    # Module attribute lookups happen at call time, so traced operations
    # go through the wrapped functions.
    return {
        "driver_standings_recompute": lambda: analytics.driver_standings_recompute(s["results"], s["race"]),
        "fastest_lap_ranking": lambda: analytics.fastest_lap_ranking(s["results"]),
        "pitstop_aggregates": lambda: analytics.pitstop_aggregates(s["pit_stop"]),
        "season_team_rollup": lambda: analytics.season_team_rollup(s["results"], s["race"]),
        "reconstruct_wide": lambda: star.reconstruct_wide(s),
        "sql_season_team_points": lambda: spark.sql(SQL_SEASON_TEAM_POINTS),
    }


def _op_order(seed: int):
    """Endless seeded operation order: each block of draws is a shuffle
    of every query and one merge, so every run sees the same mix."""
    rng = random.Random(seed)
    while True:
        block = QUERIES + [MERGE]
        rng.shuffle(block)
        yield from block


def check_queries(ctx: Ctx, fns, star_dir: str, tables) -> tuple[dict[str, str], int]:
    """Check each query once against its DuckDB restatement (untimed);
    return the reference hash of each result and the number of queries
    that did not match."""
    import duckdb

    from oracle import oracle_sql, register_star, result_hash, same_rows

    con = duckdb.connect()
    try:
        con.execute(f"SET temp_directory = '{ctx.path('duckdb_tmp')}'")
        con.execute("SET threads = 2")
        schemas = register_star(con, star_dir, tables)
        refs, bad = {}, 0
        for name, fn in fns.items():
            sql, names = oracle_sql(name, schemas)
            df = fn()
            ok = same_rows(df.collect(), con.execute(sql).fetchall())
            if names is not None and df.columns != names:
                ok = False
            if not ok:
                log(f"query {name}: result differs from its DuckDB restatement")
                bad += 1
            refs[name] = result_hash(fn().toPandas())
        return refs, bad
    finally:
        con.close()


def _write_batch(rows, path: str) -> int:
    import pyarrow as pa
    import pyarrow.parquet as pq

    types = [pa.int64(), pa.int32(), pa.int32(), pa.int32(), pa.int32(), pa.string(),
             pa.int32(), pa.int64(), pa.int32()]
    cols = list(zip(*rows))
    table = pa.table({c: pa.array(v, type=t) for c, v, t in zip(FACT_COLUMNS, cols, types)})
    pq.write_table(table, path)
    return os.path.getsize(path)


def _season_totals(spark, fact: str) -> tuple[int, int]:
    """The fixed per-season aggregate read after each merge: row count
    and ``milliseconds_laptimes`` sum over all seasons."""
    from pyspark.sql import functions as F

    rows = (
        spark.read.parquet(fact)
        .groupBy("year")
        .agg(F.count("*").alias("n"), F.sum("milliseconds_laptimes").alias("ms"))
        .collect()
    )
    return sum(r["n"] for r in rows), sum(r["ms"] or 0 for r in rows)


def _load_serving(spark, csv_path: str, star_dir: str, fact: str) -> dict[str, int]:
    """The serving mix's initial load, through the package's reader,
    builders and sink: one cached scan of the wide CSV, the star tables
    the queries read (each registered as a view for ``spark.sql``), and
    the lap-grain fact the merges update (every lap, no cap, with its
    season, partitioned by ``year``). ``etl.run_etl`` would also build
    the 7 tables no query reads: in a cold JVM it takes 24-30 s on 4
    cores, this 17-24 s. Returns the row count of each star table."""
    from pyspark.sql import functions as F

    from formula1_etl_analytics_project_spark.plans.star import BUILDERS, build_laps
    from formula1_etl_analytics_project_spark.sources.readers import read_wide_csv
    from formula1_etl_analytics_project_spark.sources.sinks import write_parquet

    import pyarrow.dataset as ds

    wide = read_wide_csv(spark, csv_path).cache()
    counts = {}
    for name in DASHBOARD_TABLES:
        write_parquet(BUILDERS[name](wide), f"{star_dir}/{name}")
        # Counted from the parquet footers, without a Spark job per table.
        counts[name] = ds.dataset(f"{star_dir}/{name}", format="parquet").count_rows()
        spark.read.parquet(f"{star_dir}/{name}").createOrReplaceTempView(name)
    years = BUILDERS["race"](wide).select(F.col("race_id").alias("raceId"), F.year("date").alias("year"))
    write_parquet(build_laps(wide, cap=None).join(years, "raceId"), fact, partition_by=["year"])
    wide.unpersist()
    return counts


class _Merger:
    """Merge operations against the lap fact. Merges run one at a time
    (a lock), in the order the seeded batch stream hands them out, and
    each is checked against the fact's expected row count and
    ``milliseconds_laptimes`` sum."""

    def __init__(self, ctx: Ctx, fact: str, stream: MergeStream, tracer: Tracer | None) -> None:
        self.ctx, self.fact, self.stream, self.tracer = ctx, fact, stream, tracer
        self.lock = threading.Lock()
        self.n = 0
        self.read_ms: list[float] = []
        self.amp: list[float] = []

    def __call__(self) -> tuple[float, bool]:
        from formula1_etl_analytics_project_spark.sources import sinks

        with self.lock:
            ctx, fact, stream = self.ctx, self.fact, self.stream
            self.n += 1
            batch = stream.next_batch()
            bpath = ctx.path(f"batch_{self.n}.parquet")
            batch_bytes = _write_batch(batch.rows, bpath)
            traced = self.tracer is not None and self.tracer.active
            before = _dir_files(fact) if traced else {}
            with _op_span(self.tracer, "merge.op"):
                t0 = time.perf_counter()
                sinks.upsert_parquet_partitioned(
                    ctx.spark, ctx.spark.read.parquet(bpath), fact, keys=MERGE_KEYS, partition_col="year"
                )
                t1 = time.perf_counter()
                got = _season_totals(ctx.spark, fact)
                t2 = time.perf_counter()
            ok = got == (stream.rows, stream.ms_sum)
            if not ok:
                log(f"merge {self.n}: fact (rows, ms) {got} != expected {(stream.rows, stream.ms_sum)}")
            if traced:
                new_bytes = sum(v for p, v in _dir_files(fact).items() if p not in before)
                self.read_ms.append((t2 - t1) * 1000)
                self.amp.append(new_bytes / batch_bytes)
            os.remove(bpath)
            return (t2 - t0) * 1000, ok

    def duplicate_keys(self) -> bool:
        from pyspark.sql import functions as F

        return bool(
            self.ctx.spark.read.parquet(self.fact).groupBy(*MERGE_KEYS).count()
            .filter(F.col("count") > 1).limit(1).count()
        )

    def layers(self) -> dict[str, float]:
        parts = [os.path.join(self.fact, d) for d in os.listdir(self.fact) if d.startswith("year=")]
        upserts = self.tracer.by_name("sinks.upsert_parquet_partitioned")
        return {
            "sinks.upsert_partitioned_ms": statistics.median(s.dur * 1000 for s in upserts),
            "fact.read_after_merge_ms": statistics.median(self.read_ms),
            "sinks.merge_write_amp": statistics.median(self.amp),
            "sinks.files_per_partition": sum(len(_dir_files(p)) for p in parts) / len(parts),
        }


def star_serving(ctx: Ctx) -> Outcome:
    from oracle import result_hash

    out = _new_outcome(ctx)
    csv_path, exp, gen_s = _generate(ctx)
    star_dir, fact = ctx.path("star"), ctx.path("laps_fact")
    t = time.perf_counter()
    counts = _load_serving(ctx.spark, csv_path, star_dir, fact)
    load_s = time.perf_counter() - t
    out.setup_s = ctx.get_spark_s + gen_s + load_s
    if counts != {name: exp.tables[name] for name in DASHBOARD_TABLES}:
        return out.fail_setup(f"initial load counts {counts} != expected {exp.tables}")
    stream = MergeStream(exp, ctx.seed, MERGE_BATCH_ROWS)
    if _season_totals(ctx.spark, fact) != (stream.rows, stream.ms_sum):
        return out.fail_setup("initial fact does not match the generated laps")
    star_tables = {name: ctx.spark.read.parquet(f"{star_dir}/{name}") for name in DASHBOARD_TABLES}
    fns = _query_fns(ctx.spark, star_tables)
    refs, bad = check_queries(ctx, fns, star_dir, DASHBOARD_TABLES)
    if bad:
        out.attempted, out.failed = len(fns), bad
        return out
    merge = _Merger(ctx, fact, stream, out.tracer)
    # The check ran every query twice; one untimed merge warms the merge
    # plans the same way.
    if not merge()[1]:
        return out.fail_setup("warm-up merge gave a wrong fact")
    log(f"setup {out.setup_s:.2f}s (star and fact load {load_s:.2f}s, {stream.rows} fact rows); queries checked")

    draws = _op_order(ctx.seed)
    draw_lock = threading.Lock()
    per_query: dict[str, list[float]] = {q: [] for q in QUERIES}

    def query(name: str) -> tuple[float, bool]:
        t0 = time.perf_counter()
        with _op_span(out.tracer, f"query.{name}"):
            pdf = fns[name]().toPandas()
        ms = (time.perf_counter() - t0) * 1000
        ok = result_hash(pdf) == refs[name]
        if not ok:
            log(f"query {name}: result hash changed")
        if out.tracer is not None and out.tracer.active:
            per_query[name].append(ms)
        return ms, ok

    def op() -> tuple[float, bool]:
        with draw_lock:
            name = next(draws)
        return merge() if name == MERGE else query(name)

    clients = max(1, min(SERVING_CLIENTS, os.cpu_count() or 1))
    _closed_loop(ctx, out, "star_serving", op, clients, block=len(QUERIES) + 1)

    out.attempted += 1  # once at the end: no merge key may be duplicated
    if merge.duplicate_keys():
        log("duplicate merge keys in the fact")
        out.failed += 1
    if out.tracer is not None:
        for q, ms in per_query.items():
            out.layers[query_layer(q)] = statistics.median(ms) if ms else 0.0
        if merge.read_ms:
            out.layers.update(merge.layers())
    return out


WORKLOADS = {
    "etl_full_load": etl_full_load,
    "star_serving": star_serving,
}
