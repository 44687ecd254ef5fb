"""Demonstrative UDAF / UDTF surface.

The reference has no aggregate or table functions at all (SURVEY.md
section 2.10 - its "UDFs" are per-row ``Series.apply`` lambdas, all
replaced here by native expressions in ``cleaning.py``). These exist so
the engine exposes every Python extension point Spark offers, each on
the vectorized/Arrow path:

  * ``weighted_mean_udaf()`` - grouped-agg pandas UDAF (Arrow batches
    in, scalar out per group). The hot-path twin is the native
    expression ``sum(x*w)/sum(w)`` - tests pin both to equality; use
    the native form in production plans (Catalyst sees through it, not
    the UDAF).
  * ``SentenceSplit`` / ``sentence_split_udtf()`` - Python UDTF (one
    row in, N rows out with position), the lateral-view escape hatch
    for parsers that truly need Python. Native twin:
    ``posexplode(split(...))``.

Both are factories: Spark parses the declared return type against an
active session, so decoration happens on first use, not at import.

Scale note: a grouped-agg UDAF materializes each group as one pandas
Series in an executor - bound group sizes (pre-aggregate or salt) the
same way as any skewed groupBy; the UDTF streams row batches and holds
no state.
"""

from __future__ import annotations

from functools import lru_cache

import pandas as pd


class SentenceSplit:
    """UDTF kernel: explode text into (position, sentence) rows on '.'
    boundaries, skipping empties - ``posexplode`` twin."""

    def eval(self, text: str):
        if not text:
            return
        pos = 0
        for part in text.split("."):
            s = part.strip()
            if s:
                yield pos, s
                pos += 1


@lru_cache(maxsize=1)
def weighted_mean_udaf():
    """Grouped-agg pandas UDAF: sum(x*w)/sum(w) per group."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def weighted_mean(x: pd.Series, w: pd.Series) -> float:
        denom = w.sum()
        return float((x * w).sum() / denom) if denom else float("nan")

    return weighted_mean


@lru_cache(maxsize=1)
def sentence_split_udtf():
    """The ``SentenceSplit`` kernel decorated as a registrable UDTF."""
    from pyspark.sql.functions import udtf

    return udtf(SentenceSplit, returnType="pos int, sentence string")
