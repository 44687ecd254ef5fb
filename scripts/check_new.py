"""Ad-hoc parity check for a subset of catalog entries (dev loop).

Driver-faithful since round 4: both sides materialize through pandas
and compare via formula1_etl_analytics_project_spark.oracle_harness
(exact values, int/float distinct, no rounding) — the same semantics
the round driver applies, so an OK here predicts a green driver row.

Usage: python scripts/check_new.py entry1 entry2 ... [--sf=SF_DIR]
"""

import sys
import tempfile

sys.path.insert(0, "/root/repo")

import duckdb

SF_DIR = "/root/testdata/sf0.001"
args = [a for a in sys.argv[1:] if not a.startswith("--sf")]
for a in sys.argv[1:]:
    if a.startswith("--sf="):
        SF_DIR = a.split("=", 1)[1]


def main():
    from formula1_etl_analytics_project_spark import oracle_harness as oh
    from formula1_etl_analytics_project_spark.plans.catalog import (
        CATALOG,
        _ORACLE_PREP,
    )
    from formula1_etl_analytics_project_spark.schemas import TESTDATA_TABLES
    from formula1_etl_analytics_project_spark.session import get_spark

    spark = get_spark()
    for prep in _ORACLE_PREP:
        prep()
    con = duckdb.connect()
    # spill to a private temp dir, not ./.tmp of the working directory
    con.execute(f"SET temp_directory='{tempfile.mkdtemp(prefix='duckdb_spill_')}'")
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")

    names = args or [n for n in CATALOG]
    failed = []
    for name in names:
        spec = CATALOG[name]
        try:
            if spec.oracle is None:
                n = spec.spark(spark, SF_DIR).count()
                print(f"OK   {name}: {n} rows (no oracle - rows-only)")
                continue
            rep = oh.compare_frames(
                oh.spark_df(spec.spark(spark, SF_DIR)),
                oh.duck_df(con, spec.oracle),
            )
            ok = (
                rep["rows_match"]
                and rep["schema_match"]
                and rep["hash_match"]
            )
            if ok:
                print(f"OK   {name}: {rep['spark_rows']} rows")
            else:
                failed.append(name)
                print(f"MISMATCH {name}: {rep}")
        except Exception as e:
            failed.append(name)
            print(f"FAIL {name}: {str(e)[:500]}")
    if failed:
        print("FAILED:", failed)
        sys.exit(1)


if __name__ == "__main__":
    main()
