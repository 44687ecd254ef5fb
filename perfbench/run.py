"""F1 pipeline benchmark: one command per workload run.

    python3 perfbench/run.py --workload etl_full_load --seed 1 --seconds 5 --trace 0

Run from the repository root. Generates its inputs from ``--seed`` under
``.perfbench_work/`` (removed at exit), starts a pinned local Spark
session, runs the workload's closed loop for at least ``--seconds`` (and
at least the workload's minimum number of operations) and prints, as
the last stdout line, one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``). Progress goes to stderr. Exits 1
if any check failed, 2 if the package is not found next to this
directory.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shutil
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "formula1_etl_analytics_project_spark"

# Session pinned to the machine: at most 4 cores, a fixed-size driver
# heap of a quarter of RAM capped at 2 GiB (a fixed heap keeps the
# JVM's resident size from depending on when it chose to grow), UI off,
# scratch dirs inside the work dir. The status store keeps every job and
# stage of a run, so a traced run can attribute all of them. Traced and
# untraced runs use the same settings.
MAX_CORES = 4
MAX_HEAP_MB = 2048
RETAINED = "100000"


def session_settings(work: str) -> tuple[int, dict[str, str]]:
    cores = min(os.cpu_count() or 1, MAX_CORES)
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (1 << 20)
    heap_mb = min(MAX_HEAP_MB, ram_mb // 4)
    conf = {
        "spark.driver.memory": f"{heap_mb}m",
        "spark.local.dir": f"{work}/spark-local",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        "spark.driver.extraJavaOptions": f"-Xms{heap_mb}m -Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.ui.enabled": "false",
        "spark.ui.showConsoleProgress": "false",
        "spark.ui.retainedJobs": RETAINED,
        "spark.ui.retainedStages": RETAINED,
    }
    return cores, conf


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus its JVM child."""
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return py + (_vm_hwm_mb(proc.pid) if proc is not None else 0.0)


def stop_session(spark) -> None:
    """Stop Spark, then end the JVM and wait for it."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"perfbench: {PACKAGE} not found in {ROOT}", file=sys.stderr)
        return 2
    sys.path[:0] = [str(ROOT), str(HERE)]
    import metrics
    import workloads
    from tracing import read_status_store

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    work = str(ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}")
    os.makedirs(f"{work}/tmp", exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = f"{work}/spark-local"
    os.environ["TMPDIR"] = f"{work}/tmp"
    cores, conf = session_settings(work)
    workloads.log(f"session: local[{cores}], {conf['spark.driver.memory']} driver heap")

    from formula1_etl_analytics_project_spark.session import get_spark

    spark = None
    try:
        t = time.perf_counter()
        spark = get_spark(app_name="perfbench", cpus=cores, extra_conf=conf)
        get_spark_s = time.perf_counter() - t
        ctx = workloads.Ctx(spark, work, args.seed, args.seconds, bool(args.trace), get_spark_s)
        out = workloads.WORKLOADS[args.workload](ctx)
        rss = peak_rss_mb(spark)
        correct = out.failed == 0 and bool(out.lat_ms) and (not args.trace or bool(out.traced_lat_ms))
        if correct and args.trace:
            stages = read_status_store(spark.sparkContext, out.loop_start_ms)
        stop_session(spark)
        spark = None
        if not correct:
            values = {}
        elif args.trace:
            values = metrics.per_layer(out, stages, get_spark_s, cores)
        else:
            values = metrics.end_to_end(out, rss)
        units = metrics.PER_LAYER if args.trace else metrics.END_TO_END
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
        with contextlib.suppress(OSError):
            os.rmdir(os.path.dirname(work))
    workloads.log(
        f"{args.workload}: {out.attempted} attempted, {out.failed} failed, "
        f"{len(out.lat_ms)} untraced samples, {len(out.traced_lat_ms)} traced samples, "
        f"loop {out.wall_s:.1f}s; untraced ms: {[round(x) for x in out.lat_ms]}"
    )
    print(json.dumps({
        "correct": correct,
        "attempted": max(1, out.attempted),
        "failed": out.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
