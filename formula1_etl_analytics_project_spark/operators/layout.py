"""Multi-dimensional data layout: Z-order (Morton) clustering.

Why this exists: parquet scans prune on per-row-group
min/max statistics. Sorting a table by ONE column makes that column's
ranges tight but leaves every other column's ranges spanning the whole
domain - a filter on the second column prunes nothing. Interleaving
the bits of two (or more) columns into a single Morton key and sorting
by IT gives every participating column locally-bounded ranges in every
file, so a conjunctive filter on ANY subset of the dimensions skips
most row groups. This is the same layout trick Delta Lake's OPTIMIZE
ZORDER BY applies; here it is plain ``repartitionByRange`` + a bit-
interleave expression, no table format required.

The key is computed with built-in integer expressions (shiftright /
% / *) - JVM-codegen'd, no UDF - and ``zorder_sql`` restates it for
DuckDB; the ``zorder_layout`` catalog entry runs both.

Reference scope note: the reference's only layout decision is two
single-column MSSQL indexes (``DDL Final.sql:230-231``); Z-order is
the columnar-scan-era generalization of "index the two columns you
filter on".
"""

from __future__ import annotations

from pyspark.sql import Column, functions as F

# Low bits of each column that the Morton key interleaves.
Z_BITS = 12


def zorder_key(cols: list[Column | str]) -> Column:
    """Morton key: interleave the low ``Z_BITS`` bits of each column.

    Columns must be non-negative integers (callers bucket/offset
    first); values >= 2**Z_BITS wrap via modulo, which only weakens
    clustering for outliers - never correctness, since the key is a
    layout hint, not data. With ``d`` columns the key uses
    ``d * Z_BITS`` bits; keep that under 63.
    """
    ncols = [F.col(c) if isinstance(c, str) else c for c in cols]
    if len(ncols) * Z_BITS > 63:
        raise ValueError("interleaved key would exceed 63 bits")
    z = F.lit(0).cast("long")
    for ci, col in enumerate(ncols):
        v = col.cast("long") % (2**Z_BITS)
        for b in range(Z_BITS):
            bit = F.shiftright(v, b) % 2
            z = z + bit * (2 ** (b * len(ncols) + ci))
    return z


def zorder_sql(cols: list[str]) -> str:
    """DuckDB-SQL twin of :func:`zorder_key`, term-for-term (integer
    shifts and adds only), so an oracle can restate the exact key."""
    terms = []
    for ci, c in enumerate(cols):
        v = f"(CAST({c} AS BIGINT) % {2**Z_BITS})"
        for b in range(Z_BITS):
            terms.append(
                f"((({v} // {2**b}) % 2) * {2 ** (b * len(cols) + ci)})"
            )
    return "(" + " + ".join(terms) + ")"
