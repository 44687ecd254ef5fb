"""Regenerate PARITY_SF01_r04.json: compare every catalog entry
against its DuckDB oracle at sf0.1 (10x the driver's gate scale —
catches tie bugs that only appear once composite keys collide).

Driver-faithful since round 4: both sides materialize through pandas
and compare via formula1_etl_analytics_project_spark.oracle_harness —
exact values, int/float distinct, no float rounding — so this artifact
is made under the same comparison the driver applies at its gate.

Usage: python scripts/refresh_parity.py [--sf=/root/testdata/sf0.1]
                                        [--out=PARITY_SF01_r04.json]
                                        [--only=a,b,c]
"""

import json
import sys
import tempfile

sys.path.insert(0, "/root/repo")

import duckdb

SF_DIR = "/root/testdata/sf0.1"
OUT = "PARITY_SF01_r04.json"
ONLY = None  # --only=a,b,c: sweep just these entries and MERGE into OUT
for a in sys.argv[1:]:
    if a.startswith("--sf="):
        SF_DIR = a.split("=", 1)[1]
    if a.startswith("--out="):
        OUT = a.split("=", 1)[1]
    if a.startswith("--only="):
        ONLY = set(a.split("=", 1)[1].split(","))


def main():
    import __spark_entry__ as e
    from formula1_etl_analytics_project_spark import oracle_harness as oh
    from formula1_etl_analytics_project_spark.schemas import TESTDATA_TABLES
    from formula1_etl_analytics_project_spark.session import get_spark

    spark = get_spark()
    con = duckdb.connect()
    # spill to a private temp dir, not ./.tmp of the working directory
    con.execute(f"SET temp_directory='{tempfile.mkdtemp(prefix='duckdb_spill_')}'")
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    qs, osql = e.queries(), e.oracle_sql()
    if ONLY is not None:
        unknown = ONLY - set(qs)
        if unknown:
            raise SystemExit(f"--only names not in catalog: {sorted(unknown)}")
        qs = {n: f for n, f in qs.items() if n in ONLY}
    entries, n_matched = {}, 0
    for name, fn in qs.items():
        try:
            if name not in osql:
                n = fn(spark, SF_DIR).count()
                entries[name] = {"rows": n, "match": True, "rows_only": True}
                match = True
            else:
                rep = oh.compare_frames(
                    oh.spark_df(fn(spark, SF_DIR)),
                    oh.duck_df(con, osql[name]),
                )
                match = (
                    rep["rows_match"]
                    and rep["schema_match"]
                    and rep["hash_match"]
                )
                entries[name] = {
                    "rows": rep["spark_rows"],
                    "oracle_rows": rep["oracle_rows"],
                    "match": match,
                }
                if not match:
                    entries[name]["first_diffs"] = rep["first_diffs"]
        except Exception as ex:  # noqa: BLE001 - record, keep sweeping
            entries[name] = {"error": str(ex)[:300], "match": False}
            match = False
        n_matched += bool(match)
        print(("MATCH " if match else "MISMATCH ") + name, flush=True)
    sf = float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1])
    if ONLY is not None:
        try:
            with open(OUT) as f:
                out = json.load(f)
        except (OSError, ValueError):
            out = {"sf": sf, "entries": {}}
        out["entries"].update(entries)
        out["n_entries"] = len(out["entries"])
        out["n_matched"] = sum(
            1 for v in out["entries"].values() if v.get("match")
        )
    else:
        out = {
            "sf": sf,
            "n_entries": len(qs),
            "n_matched": n_matched,
            "entries": entries,
        }
    with open(OUT, "w") as f:
        json.dump(out, f, indent=1)
    print(
        f"{out['n_matched']}/{out['n_entries']} matched -> {OUT}", flush=True
    )


if __name__ == "__main__":
    main()
