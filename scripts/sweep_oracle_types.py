"""Sweep every catalog oracle for driver-hostile output types.

The driver materializes the DuckDB oracle result THROUGH PANDAS before
hashing.  Two DuckDB output types break that round-trip:

* HUGEINT (INT128) — e.g. ``SUM(BIGINT)`` — pandas has no int128, so
  ``.df()`` silently yields float64/object while the Spark side stays
  int64: the driver's value-hash mismatches even though the numbers are
  identical (all 4 hash-red rows in CORRECTNESS_r03.json had exactly
  this).  Fix: ``CAST(... AS BIGINT)`` on the output aggregate.
* TIMESTAMP outside pandas' ns range [1677-09-21, 2262-04-11] — e.g. a
  ``9999-12-31`` open-interval sentinel — raises OutOfBoundsDatetime in
  the driver's oracle harness (scd2_history's ``err`` row in r03).
* LIST / STRUCT / MAP output columns — the driver sorts the raw pandas
  frame by its columns before hashing, and list cells are unhashable:
  ``pandas.sort_values`` crashes (pq_codes' ``err`` row in r04). Fix:
  join arrays to strings at the output boundary (``array_to_string`` /
  ``array_join`` — the array_agg_orders idiom).
* Non-finite DOUBLE values (NaN / Inf) — the local harness folds NaN
  to null (pandas semantics); whether the driver does the same is
  unverified, and the two engines produce NaN from different
  expressions (0/0 vs log(0)), so no entry may emit one. Checked by
  value at the sweep's SF (preventive — zero instances today).

Usage: python scripts/sweep_oracle_types.py [--sf=DIR]
Prints one line per offending (entry, column) and exits non-zero if any.
"""

import sys
import tempfile

sys.path.insert(0, "/root/repo")

import duckdb

SF_DIR = "/root/testdata/sf0.001"
for a in sys.argv[1:]:
    if a.startswith("--sf="):
        SF_DIR = a.split("=", 1)[1]

PANDAS_TS_MAX = "TIMESTAMP '2262-04-11 00:00:00'"
PANDAS_TS_MIN = "TIMESTAMP '1677-09-22 00:00:00'"


def sweep(con, catalog):
    """Return [(entry, column, problem)] across all oracle twins."""
    bad = []
    for name, spec in catalog.items():
        if spec.oracle is None:
            continue
        desc = con.execute(f"DESCRIBE {spec.oracle}").fetchall()
        ts_cols = []
        float_cols = []
        for col, typ, *_ in desc:
            t = typ.upper()
            if "HUGEINT" in t or "INT128" in t:
                bad.append((name, col, f"pandas-unrepresentable {typ}"))
            if t.endswith("[]") or t.startswith(("STRUCT", "MAP", "UNION")):
                bad.append(
                    (name, col, f"unsortable-in-pandas {typ} (driver crash)")
                )
            if t.startswith("DECIMAL"):
                bad.append(
                    (name, col,
                     f"{typ} output column (pandas materializes "
                     "decimal.Decimal objects - repr-distinct from "
                     "float in the driver's value hash)")
                )
            if t.startswith("TIMESTAMP"):
                ts_cols.append(col)
            if t in ("DOUBLE", "FLOAT", "REAL"):
                float_cols.append(col)
        if float_cols:
            checks = ", ".join(
                f'MAX(NOT isfinite("{c}")) AS "{c}"' for c in float_cols
            )
            row = con.execute(
                f"SELECT {checks} FROM ({spec.oracle})"
            ).fetchone()
            for c, out in zip(float_cols, row):
                if out:
                    bad.append((name, c, "non-finite double (NaN/Inf)"))
        if ts_cols:
            checks = ", ".join(
                f'MAX("{c}" > {PANDAS_TS_MAX} OR "{c}" < {PANDAS_TS_MIN})'
                f' AS "{c}"'
                for c in ts_cols
            )
            row = con.execute(
                f"SELECT {checks} FROM ({spec.oracle})"
            ).fetchone()
            for c, out in zip(ts_cols, row):
                if out:
                    bad.append((name, c, "timestamp outside pandas ns range"))
    return bad


def main():
    from formula1_etl_analytics_project_spark.plans.catalog import (
        CATALOG,
        _ORACLE_PREP,
    )
    from formula1_etl_analytics_project_spark.schemas import TESTDATA_TABLES

    for prep in _ORACLE_PREP:
        prep()
    con = duckdb.connect()
    # spill to a private temp dir, not ./.tmp of the working directory
    con.execute(f"SET temp_directory='{tempfile.mkdtemp(prefix='duckdb_spill_')}'")
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    bad = sweep(con, CATALOG)
    for name, col, why in bad:
        print(f"BAD  {name}.{col}: {why}")
    print(f"{len(bad)} offending columns across {len(CATALOG)} entries")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
