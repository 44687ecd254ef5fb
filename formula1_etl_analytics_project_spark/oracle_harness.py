"""Driver-faithful oracle comparison.

The round driver gates correctness by running each catalog entry's
Spark DataFrame AND its DuckDB oracle SQL, materializing BOTH through
pandas, sorting columns by name, and hashing the values exactly.  Until
round 3 the local harness compared ``fetchall()`` tuples with floats
rounded to 9 digits — strictly WEAKER than the driver: DuckDB's
``.df()`` turns HUGEINT (``SUM(BIGINT)``) into float64 while Spark
stays int64, which the rounded-tuple compare forgave and the driver's
exact hash did not (all four hash-red rows in CORRECTNESS_r03.json).

This module is the one canonicalization used by ``scripts/check_new.py``,
``scripts/refresh_parity.py`` and ``tests/test_oracle_parity.py`` so the
local signal predicts the driver's:

* both sides go through pandas (``res.df()`` / ``sdf.toPandas()``), so
  pandas-unrepresentable values fail HERE first (HUGEINT silently
  becomes float64 and mismatches; a timestamp outside datetime64[ns]'s
  [1677, 2262] range raises OutOfBoundsDatetime exactly like the
  driver's scd2_history ``err`` row in r03);
* integers and floats canonicalize DIFFERENTLY (int64 500 != float64
  500.0) — no rounding anywhere;
* dates and midnight timestamps canonicalize the SAME (DuckDB ``.df()``
  yields datetime64 for DATE while Spark ``toPandas()`` yields
  ``datetime.date`` objects; every driver-green entry with a DATE
  output column proves the driver equates them).

Empirical anchor: under this comparison the four r03 hash-red entries
fail against their pre-fix oracles and pass after the BIGINT casts,
while all r03 driver-green entries still pass (see
tests/test_oracle_parity.py and PARITY_SF01_r04.json).
"""

from __future__ import annotations

import datetime
import decimal
import math

import numpy as np
import pandas as pd

__all__ = [
    "canon_cell",
    "canon_frame",
    "compare_frames",
    "duck_df",
    "spark_df",
]


def duck_df(con, sql: str) -> pd.DataFrame:
    """Materialize the DuckDB side the way the driver does. Raises
    (e.g. OutOfBoundsDatetime) on pandas-unrepresentable values."""
    return con.execute(sql).df()


def spark_df(sdf) -> pd.DataFrame:
    """Materialize the Spark side the way the driver does."""
    return sdf.toPandas()


def canon_cell(v):
    """Type-tagged canonical form of one cell.

    The tag keeps int64 500 and float64 500.0 DISTINCT (the driver
    does), while date / midnight-timestamp collapse to one form (the
    driver does that too). Floats use exact repr — no rounding.
    """
    if v is None:
        return ("null",)
    if v is pd.NaT:
        return ("null",)
    if isinstance(v, (bool, np.bool_)):
        return ("bool", bool(v))
    if isinstance(v, (int, np.integer)):
        return ("int", str(int(v)))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        if math.isnan(f):
            return ("null",)
        return ("float", repr(f))
    if isinstance(v, decimal.Decimal):
        # The driver hashes the RAW pandas cell: a Decimal is
        # repr-distinct from the Spark side's float64 even when equal
        # in value, so a DECIMAL output column is a guaranteed red
        # row. Converting to float here (the pre-round-5 behavior)
        # was strictly more forgiving than the driver - exactly how
        # benford_digit_audit's DECIMAL expected_p slipped past the
        # local sweep. Hard error, like list cells: cast to DOUBLE at
        # the oracle output boundary.
        raise TypeError(
            "decimal.Decimal output cell reaches the oracle boundary "
            f"({v!r}); the driver hash-distinguishes Decimal from "
            "float64 - CAST the column to DOUBLE in the oracle SQL"
        )
    if isinstance(v, (pd.Timestamp, datetime.datetime, datetime.date)):
        return ("ts", pd.Timestamp(v).isoformat())
    if isinstance(v, (list, tuple, np.ndarray, dict)):
        # The driver sorts the raw pandas frame by its columns before
        # hashing; list/struct/map cells are unhashable/unorderable and
        # CRASH it (pq_codes' err row in CORRECTNESS_r04.json). Until
        # round 4 this harness tuple-ized them — strictly more forgiving
        # than the driver, which is exactly how that bug stayed hidden.
        # Hard error: entries must join arrays to strings at the output
        # boundary (the array_agg_orders idiom).
        raise TypeError(
            "list/struct/map output cell reaches the oracle boundary "
            f"({type(v).__name__}: {v!r:.80}); the driver's raw-column "
            "sort crashes on these — emit a joined string instead"
        )
    if isinstance(v, bytes):
        return ("bytes", v.hex())
    return ("str", str(v))


def canon_frame(df: pd.DataFrame):
    """(sorted column names, sorted canonical row tuples)."""
    cols = sorted(df.columns)
    rows = sorted(
        tuple(canon_cell(v) for v in row)
        for row in df[cols].itertuples(index=False, name=None)
    )
    return cols, rows


def compare_frames(spark_pdf: pd.DataFrame, duck_pdf: pd.DataFrame) -> dict:
    """Driver-style report: row-count, column-set, and value match,
    with the first few differing canonical rows when values mismatch."""
    scols, srows = canon_frame(spark_pdf)
    dcols, drows = canon_frame(duck_pdf)
    report = {
        "rows_match": len(srows) == len(drows),
        "schema_match": scols == dcols,
        "hash_match": srows == drows,
        "spark_rows": len(srows),
        "oracle_rows": len(drows),
        "first_diffs": [],
    }
    if not report["hash_match"] and len(srows) == len(drows):
        report["first_diffs"] = [
            {"spark": repr(a), "oracle": repr(b)}
            for a, b in zip(srows, drows)
            if a != b
        ][:3]
    elif not report["schema_match"]:
        report["first_diffs"] = [
            {"spark": repr(scols), "oracle": repr(dcols)}
        ]
    return report
