"""Grouped-map operators (``applyInPandas``): per-group pandas kernels
for semantics the built-in expressions genuinely can't state cleanly.

The package's Python escape hatches (SURVEY.md section 2.10 /
the north-star UDF surface):

  * ``mapInPandas``     - partition-streaming (operators.multimodal)
  * ``applyInPandas``   - grouped-map, full group in one pandas frame
                          (this module)
  * ``applyInPandasWithState`` - grouped + cross-batch state
                          (streaming.pipeline)

Scale notes: applyInPandas shuffles by the grouping key and
materializes ONE GROUP per pandas frame - safe when groups are bounded
(a user's events, a race's laps), never on unbounded groups (use
mapInPandas or windows there). Arrow transfers the group batch; the
kernel must be a pure function of the group for determinism.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame


def interpolate_gaps(
    df: DataFrame,
    key: str,
    order: str,
    value: str,
) -> DataFrame:
    """Per-group linear interpolation of missing values over the
    group's own timeline - interior nulls fill linearly, leading/
    trailing nulls stay null (pandas ``interpolate(limit_area=
    'inside')`` semantics, the standard gap-fill for sensor/lap-time
    series).

    Natively this would need forward- AND backward-looking value/
    distance windows plus ratio arithmetic; the grouped pandas kernel
    states it in one line and stays Arrow-batched.
    """
    schema = df.select(key, order, value).schema
    value_idx = {f.name: i for i, f in enumerate(schema.fields)}[value]
    if schema.fields[value_idx].dataType.typeName() not in ("double", "float"):
        raise TypeError("interpolate_gaps requires a float value column")

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order)
        pdf[value] = pdf[value].astype("float64").interpolate(
            method="linear", limit_area="inside"
        )
        return pdf

    return df.select(key, order, value).groupBy(key).applyInPandas(
        kernel, schema=schema
    )
