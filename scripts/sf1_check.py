"""Per-entry sf1 parity check with an oracle watchdog.

`refresh_parity.py` assumes the DuckDB oracle finishes; at sf1 a few
oracles are honestly intractable (recursive-CTE closures, exact
pair-join truths) and would hang a sweep for its full outer timeout.
This runner bounds the oracle with duckdb's cross-thread
``interrupt()`` so every entry terminates with an honest record:

* ``match: true``            - full driver-faithful compare passed
* ``oracle_timeout_sec: N``  - Spark side produced rows; the watchdog
                               fired and interrupted the oracle
* ``oracle_error: ...``      - the oracle FAILED on its own (OOM under
                               the 24 GB cap, binder error) - NOT a
                               timeout; distinguished via the watchdog
                               fired-flag so a broken oracle can never
                               masquerade as an honest timeout
* ``error: ...``             - Spark-side failure (the interesting
                               case the round-6 sweep left unresolved)

DuckDB memory is capped (default 24 GB) so an oracle can never OOM
the box out from under the Spark JVM sharing it. Entries without an
oracle twin record a rows-only count (``.count()``, never a driver
collect - pair-grain outputs at sf1 exceed driver memory).

This is deliberately record-compatible with refresh_parity.py (same
entries/rows/match layout) so per-entry fresh-process loops merge
into the same artifact; when merging into an artifact made at a
DIFFERENT scale, each merged entry is stamped with its own ``sf``.

Usage:
  python scripts/sf1_check.py entry [entry ...]
      [--sf=/root/repo/testdata_sf1] [--out=FILE.json]
      [--oracle-budget=300]
"""

import json
import sys
import tempfile
import threading

sys.path.insert(0, "/root/repo")

import duckdb

SF_DIR = "/root/repo/testdata_sf1"
OUT = None
BUDGET = 300
names = []
for a in sys.argv[1:]:
    if a.startswith("--sf="):
        SF_DIR = a.split("=", 1)[1]
    elif a.startswith("--out="):
        OUT = a.split("=", 1)[1]
    elif a.startswith("--oracle-budget="):
        BUDGET = int(a.split("=", 1)[1])
    elif not a.startswith("--"):
        names.append(a)


def _sf_of(sf_dir: str):
    try:
        return float(sf_dir.rstrip("/").rsplit("sf", 1)[-1])
    except ValueError:
        return None


def main():
    import __spark_entry__ as e
    from formula1_etl_analytics_project_spark import oracle_harness as oh
    from formula1_etl_analytics_project_spark.schemas import TESTDATA_TABLES
    from formula1_etl_analytics_project_spark.session import get_spark

    spark = get_spark()
    con = duckdb.connect()
    # spill to a private temp dir, not ./.tmp of the working directory
    con.execute(f"SET temp_directory='{tempfile.mkdtemp(prefix='duckdb_spill_')}'")
    con.execute("SET memory_limit='24GB'")
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    qs, osql = e.queries(), e.oracle_sql()
    unknown = set(names) - set(qs)
    if unknown:
        raise SystemExit(f"unknown entries: {sorted(unknown)}")

    # Prefer an entry's scale-restated oracle where one exists: same
    # semantics, proven value-equal at sf0.1, tractable at sf1 (e.g.
    # the banded closure in catalog_ext._SQL_CLUSTERS_SCALE). The
    # driver gate at sf0.01 keeps running the independent form.
    from formula1_etl_analytics_project_spark.plans.catalog import CATALOG

    scaled = []
    for name in names:
        spec = CATALOG.get(name)
        if spec is not None and spec.oracle_scale and name in osql:
            osql[name] = spec.oracle_scale
            scaled.append(name)
    if scaled:
        print(f"using oracle_scale for: {', '.join(scaled)}", flush=True)

    entries = {}
    for name in names:
        fn = qs[name]
        if name not in osql:
            # rows-only entries can be pair-grain at sf1: count on the
            # executors, never a driver collect (refresh_parity's form)
            try:
                n = fn(spark, SF_DIR).count()
            except Exception as ex:  # noqa: BLE001 - record, keep going
                entries[name] = {"error": str(ex)[:300], "match": False}
                print(f"SPARK-ERROR {name}", flush=True)
                continue
            entries[name] = {"rows": n, "match": True, "rows_only": True}
            print(f"ROWS-ONLY {name} ({n})", flush=True)
            continue
        # ---- Spark side first: this is the side the round-6 sweep
        # left in an error state; its outcome is the finding.
        try:
            sdf = oh.spark_df(fn(spark, SF_DIR))
        except Exception as ex:  # noqa: BLE001 - record, keep sweeping
            entries[name] = {"error": str(ex)[:300], "match": False}
            print(f"SPARK-ERROR {name}", flush=True)
            continue
        # ---- Oracle under the watchdog. The fired-flag is what
        # separates "we interrupted it" from "it failed on its own".
        # The done-flag closes the timer race: if the timer fires in the
        # window between duck_df returning and timer.cancel(), a bare
        # con.interrupt() would land on the NEXT entry's query (whose
        # fresh fired-event would mislabel the kill as oracle_error).
        fired = threading.Event()
        done = threading.Event()

        def _interrupt():
            if done.is_set():
                return
            fired.set()
            con.interrupt()

        timer = threading.Timer(BUDGET, _interrupt)
        timer.start()
        try:
            ddf = oh.duck_df(con, osql[name])
            done.set()
        except duckdb.Error as ex:
            done.set()
            if fired.is_set():
                entries[name] = {
                    "rows": len(sdf),
                    "match": False,
                    "oracle_timeout_sec": BUDGET,
                }
                print(
                    f"ORACLE-TIMEOUT {name} (spark rows={len(sdf)})",
                    flush=True,
                )
            else:
                entries[name] = {
                    "rows": len(sdf),
                    "match": False,
                    "oracle_error": str(ex)[:300],
                }
                print(
                    f"ORACLE-ERROR {name} (spark rows={len(sdf)})",
                    flush=True,
                )
            continue
        finally:
            timer.cancel()
        rep = oh.compare_frames(sdf, ddf)
        match = rep["rows_match"] and rep["schema_match"] and rep["hash_match"]
        entries[name] = {
            "rows": rep["spark_rows"],
            "oracle_rows": rep["oracle_rows"],
            "match": match,
        }
        if not match:
            entries[name]["first_diffs"] = rep["first_diffs"]
        print(("MATCH " if match else "MISMATCH ") + name, flush=True)

    if OUT:
        sf = _sf_of(SF_DIR)
        try:
            with open(OUT) as f:
                out = json.load(f)
        except (OSError, ValueError):
            out = {"sf": sf, "entries": {}}
        if out.get("sf") != sf:
            # merging across scales: stamp each new entry so the
            # artifact never silently mixes unlabeled scales
            for v in entries.values():
                v["sf"] = sf
        out["entries"].update(entries)
        out["n_entries"] = len(out["entries"])
        out["n_matched"] = sum(
            1 for v in out["entries"].values() if v.get("match")
        )
        with open(OUT, "w") as f:
            json.dump(out, f, indent=1)
        print(f"merged -> {OUT}", flush=True)


if __name__ == "__main__":
    main()
