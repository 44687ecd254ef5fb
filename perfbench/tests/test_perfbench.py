"""Tests of the benchmark itself: generator determinism, the declared
metric names, and a tiny-scale smoke of every workload.

    python -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

import gen
import metrics
import run
import workloads
from tracing import read_status_store

BENCH_DIR = Path(__file__).resolve().parent.parent
SPEC = json.loads((BENCH_DIR.parent / "BENCHMARK.json").read_text())
TINY = gen.Scale(seasons=3, races_per_season=6, drivers=6, laps=6)


def _sha(path) -> str:
    return hashlib.sha256(Path(path).read_bytes()).hexdigest()


def test_generator_same_seed_same_bytes(tmp_path):
    a = gen.generate(str(tmp_path / "a.csv"), 7, TINY)
    b = gen.generate(str(tmp_path / "b.csv"), 7, TINY)
    c = gen.generate(str(tmp_path / "c.csv"), 8, TINY)
    assert _sha(tmp_path / "a.csv") == _sha(tmp_path / "b.csv")
    assert _sha(tmp_path / "a.csv") != _sha(tmp_path / "c.csv")
    assert a.tables == b.tables and a.wide_rows == b.wide_rows


def test_generator_expected_counts(tmp_path):
    exp = gen.generate(str(tmp_path / "w.csv"), 3, TINY)
    lines = (tmp_path / "w.csv").read_text().splitlines()
    assert len(lines) - 1 == exp.wide_rows
    assert set(exp.tables) == set(metrics.TABLES)
    races = TINY.seasons * TINY.races_per_season
    assert exp.tables["race"] == exp.tables["date_dim"] == races
    assert exp.tables["results"] == races * TINY.drivers
    assert exp.tables["driver"] == TINY.drivers - 1  # one malformed dob
    assert exp.tables["free_practice"] < races  # races with all-null practice
    assert "\\N" in lines[1] or "\\N" in lines[2]


def test_merge_batches_deterministic_and_key_unique(tmp_path):
    exp = gen.generate(str(tmp_path / "w.csv"), 5, TINY)
    s1, s2 = gen.MergeStream(exp, 5, 20), gen.MergeStream(exp, 5, 20)
    for _ in range(3):
        b1, b2 = s1.next_batch(), s2.next_batch()
        assert b1.rows == b2.rows
        keys = [(r[1], r[2], r[4]) for r in b1.rows]
        assert len(keys) == len(set(keys))
        assert 1 <= len({r[-1] for r in b1.rows}) <= 3
    assert s1.rows == len(exp.laps) + 3 * b1.inserted


def test_declared_metrics_match_the_code():
    e2e = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert e2e == metrics.END_TO_END
    assert layers == metrics.PER_LAYER
    assert {w["name"] for w in SPEC["workloads"]} <= set(workloads.WORKLOADS)


def test_same_rows_is_order_insensitive_and_strict():
    from oracle import same_rows

    assert same_rows([(1, 2.0), (3, None)], [(3, None), (1, 2.0)])
    assert not same_rows([(1, 2.0)], [(1, 2.5)])
    assert not same_rows([(1, 2.0), (1, 2.0)], [(1, 2.0)])


def test_exits_nonzero_without_the_package(tmp_path):
    shutil.copytree(BENCH_DIR, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(BENCH_DIR.parent / "BENCHMARK.json", tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "etl_full_load",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout == ""


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("perfbench"))
    os.makedirs(f"{work}/tmp")
    _, conf = run.session_settings(work)
    from formula1_etl_analytics_project_spark.session import get_spark

    s = get_spark(app_name="perfbench-tests", cpus=2, extra_conf=conf)
    yield s
    s.stop()


@pytest.mark.parametrize("name", sorted(workloads.WORKLOADS))
@pytest.mark.parametrize("trace", [False, True])
def test_workload_smoke(spark, tmp_path, name, trace):
    ctx = workloads.Ctx(spark, str(tmp_path), seed=2, seconds=0.01, trace=trace,
                        get_spark_s=1.0, scale=TINY, min_ops=1)
    out = workloads.WORKLOADS[name](ctx)
    assert out.failed == 0, f"{name}: {out.failed} of {out.attempted} failed"
    assert out.lat_ms
    if trace:
        assert out.traced_lat_ms  # half the operations are traced
        stages = read_status_store(spark.sparkContext, out.loop_start_ms)
        assert stages.stages
        values = metrics.per_layer(out, stages, 1.0, 2)
        assert set(values) == set(metrics.PER_LAYER)
        assert values["spark.jobs_per_op"] > 0
    else:
        values = metrics.end_to_end(out, run.peak_rss_mb(spark))
        assert set(values) == set(metrics.END_TO_END)
        assert all(v > 0 for v in values.values())
