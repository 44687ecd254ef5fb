"""Metric definitions and the arithmetic that turns a workload's
:class:`~workloads.Outcome` into the printed metrics.

Every workload prints the same metric names: the end-to-end set in an
untraced run, the per-layer set in a traced run. A layer a workload
does not call reads 0 there.
"""

from __future__ import annotations

import statistics

from tracing import StageLog

TABLES = [
    "date_dim", "location_dim", "status_dim", "driver", "team", "race",
    "time_dim", "sprint", "free_practice", "qualification", "laps",
    "pit_stop", "results", "driver_standings", "team_standings",
]
QUERY_LAYERS = [
    "analytics.driver_standings_recompute_ms",
    "analytics.fastest_lap_ranking_ms",
    "analytics.pitstop_aggregates_ms",
    "analytics.season_team_rollup_ms",
    "star.reconstruct_wide_ms",
    "sql.season_team_points_ms",
]

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "op_p95_ms": "ms",
    "op_samples": "count",  # the sample count both percentiles are taken over
    "ops_per_s": "1/s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.get_spark_s": "s",
    "readers.wide_scan_cache_s": "s",
    "readers.input_bytes": "bytes",
    **{f"sinks.write_parquet.{t}_s": "s" for t in TABLES},
    "sinks.files_written": "count",
    "sinks.bytes_written": "bytes",
    "etl.run_etl_self_s": "s",
    "dedup.shuffle_write_bytes": "bytes",
    "dedup.keep_ratio": "ratio",
    **{f"star.{t}.rows": "count" for t in TABLES},
    "spark.core_busy_ratio": "ratio",
    "spark.jobs_per_op": "count",
    "spark.stages_per_op": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.gc_s": "s",
    **{name: "ms" for name in QUERY_LAYERS},
    "sinks.upsert_partitioned_ms": "ms",
    "sinks.jobs_per_merge": "count",
    "sinks.files_per_partition": "count",
    "fact.read_after_merge_ms": "ms",
    "sinks.merge_write_amp": "ratio",
    "trace.untraced_op_p50_ms": "ms",
    "trace.traced_op_p50_ms": "ms",
    "trace.overhead_ms": "ms",
    "trace.traced_ops": "count",
}

OP_SPANS = ("etl.run_etl", "query.", "merge.op")


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile, ``q`` in [0, 100]."""
    v = sorted(values)
    if len(v) == 1:
        return v[0]
    pos = (len(v) - 1) * q / 100
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def end_to_end(out, peak_rss_mb: float) -> dict[str, float]:
    lat = out.lat_ms
    return {
        "setup_s": out.setup_s,
        "op_p50_ms": statistics.median(lat),
        "op_p95_ms": percentile(lat, 95),
        "op_samples": len(lat),
        "ops_per_s": out.ops_per_s,
        "peak_rss_mb": peak_rss_mb,
    }


def per_layer(out, stages: StageLog, get_spark_s: float, cores: int) -> dict[str, float]:
    """All per-layer metrics of a traced run (0 where a layer is unused).
    Per-operation figures are means over the traced operations."""
    tracer = out.tracer
    m = {name: 0.0 for name in PER_LAYER}
    m["session.get_spark_s"] = get_spark_s
    m.update(out.layers)
    ops = [s for s in tracer.spans if s.name.startswith(OP_SPANS)]
    n_ops = max(1, len(ops))
    op_groups = set().union(*(tracer.descendants(s) for s in ops)) if ops else set()
    op_stages = stages.stages_of(op_groups)
    m["spark.jobs_per_op"] = sum(stages.jobs_by_group[g] for g in op_groups) / n_ops
    m["spark.stages_per_op"] = len(op_stages) / n_ops
    m["spark.shuffle_write_bytes"] = sum(s.shuffle_write_bytes for s in op_stages) / n_ops
    m["spark.spill_bytes"] = sum(s.spill_bytes for s in op_stages) / n_ops
    m["spark.gc_s"] = sum(s.gc_s for s in op_stages) / n_ops
    # Every stage of the timed loop, traced operations or not.
    m["spark.core_busy_ratio"] = sum(s.run_s for s in stages.stages) / (out.wall_s * cores)
    # The first stage of a load is the one that scans the CSV and fills
    # the cache the later writes read.
    for op in (s for s in ops if s.name == "etl.run_etl"):
        first = min(stages.stages_of(tracer.descendants(op)), key=lambda s: s.submitted_ms, default=None)
        if first is not None:
            m["readers.wide_scan_cache_s"] += first.duration_s / n_ops
            m["readers.input_bytes"] += first.input_bytes / n_ops
    writes = [s for s in tracer.spans if s.name.startswith("sinks.write_parquet.")]
    for t in TABLES:
        spans = [s for s in writes if s.name == f"sinks.write_parquet.{t}"]
        if spans:
            m[f"sinks.write_parquet.{t}_s"] = sum(s.dur for s in spans) / n_ops
    if writes:
        write_stages = stages.stages_of(s.sid for s in writes)
        m["dedup.shuffle_write_bytes"] = sum(s.shuffle_write_bytes for s in write_stages) / n_ops
    upserts = tracer.by_name("sinks.upsert_parquet_partitioned")
    if upserts:
        groups = set().union(*(tracer.descendants(s) for s in upserts))
        m["sinks.jobs_per_merge"] = sum(stages.jobs_by_group[g] for g in groups) / len(upserts)
    # Traced and untraced operations interleave in the traced run.
    untraced = statistics.median(out.lat_ms)
    traced = statistics.median(out.traced_lat_ms)
    m["trace.untraced_op_p50_ms"] = untraced
    m["trace.traced_op_p50_ms"] = traced
    m["trace.overhead_ms"] = traced - untraced
    m["trace.traced_ops"] = len(out.traced_lat_ms)
    return m
