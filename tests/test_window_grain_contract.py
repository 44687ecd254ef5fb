"""Catalog-wide WINDOW-GRAIN contract.

An empty-partition window (``Window.orderBy(...)`` with no
``partitionBy``) executes as a single-partition Exchange: every input
row funnels through ONE task. That is fine when the input is provably
bounded (a 9-row digit table, a post-LIMIT top-k frame, a
calendar-bounded domain) and fatal when the input grows with the data
(entity grain, fact grain) - the exact defect the round-5 audit found
in ``ntile_spend_quartiles`` before its rewrite onto the distributed
rank.

This sweep turns that hand audit into a regression gate: every
catalog entry's physical plan is traversed; any ``WindowExec`` /
``WindowInPandasExec`` with an EMPTY partition spec must be either

* the ``distributed_sequence`` offsets
  window - recognized structurally by its ``__seq_pid`` sort key; its
  input is the per-partition count table, k = #partitions rows by
  construction (operators/sequence.py) - or
* listed in ``BOUNDED_GRAIN_ALLOWLIST`` below with the argument for
  why its input cannot grow with the data.

``WindowGroupLimitExec`` is exempt: it is the rank-limit pushdown
(partial per-partition pruning before the final pass), bounded by
k x #partitions rows at the final stage - the top-k pattern, not a
funnel. Plan inspection is construction-only (no execution) at
sf0.001, same protocol as tests/test_plan_smell_contract.py.
"""

from __future__ import annotations

import pytest

from formula1_etl_analytics_project_spark.operators.sequence import _PID
from formula1_etl_analytics_project_spark.plans.catalog import CATALOG

SF_DIR = "/root/testdata/sf0.001"

# Entry -> why its empty-partition window input is bounded (cannot
# grow with the corpus). Anything not here and not a __seq_pid
# offsets window fails the sweep and must either adopt the
# distributed-sequence pattern or argue its bound in this table.
BOUNDED_GRAIN_ALLOWLIST: dict[str, str] = {
    "autocorr_revenue": "lag window on the day-grain revenue series; "
    "rows = observation-calendar days, not facts",
    "benford_digit_audit": "share window on the 9-row first-digit table",
    "best_split_finding": "windows on the <=64-row feature histogram "
    "(partial aggregation collapses the fact first)",
    "bootstrap_ci_mean": "percentile window on <=100 resample cells "
    "(one per bootstrap replicate)",
    "conformal_threshold": "rank window on the score-domain value "
    "table (distinct doc lengths, bounded by max length)",
    "cramers_v": "marginal windows on the |segments| x |priorities| "
    "<= 25-cell contingency table",
    "diversity_capped_topk": "selection windows on the post-LIMIT "
    "candidate frame (<= cap x sources rows)",
    "km_survival": "survival-curve windows on the distinct-lifetime "
    "table, bounded by calendar days in the observation window",
    "ks_two_sample": "offset window on the |buckets|-row prefix-sum "
    "offset table (bucketed decomposition, catalog_r19)",
    "mann_whitney_u": "offset window on the |buckets|-row prefix-sum "
    "offset table (same machinery as ks_two_sample)",
    "nation_revenue_share": "share window on the 25-row nation "
    "aggregate",
    "ndcg_retrieval_eval": "DCG windows on the post-LIMIT 10-row "
    "ranking frames",
    "roc_auc_eval": "ROC windows on the score-grid histogram, "
    "O(grid) rows",
    "rrf_fusion": "fusion windows on the two post-TakeOrdered k-row "
    "arms",
    "isotonic_calibration": "PAVA windows on the bin histogram "
    "(broadcast-sized, fixed bin count)",
    "skyline_customers": "dominance windows on the grid-pruned "
    "frontier candidates (O(skyline) rows) and the B-row bucket "
    "maxima (operators/skyline.py)",
    "t_closeness_audit": "global-distribution window on the "
    "|QI classes|-row equivalence-class table",
    "token_budget_select": "offset window on the 64-row score-bucket "
    "offset table (bucketed prefix-sum decomposition, catalog_r14)",
    "token_zipf_fit": "OLS windows on the top-100 frequency spectrum "
    "(post-TakeOrdered)",
    "vocab_coverage_curve": "rank/cumsum windows on the top-50 "
    "post-LIMIT type table",
}


def _empty_partition_windows(jplan):
    """Yield (node_kind, order_spec_str) for every empty-partition
    Window node in the physical plan tree."""
    stack = [jplan]
    while stack:
        node = stack.pop()
        kind = node.getClass().getSimpleName()
        if kind in ("WindowExec", "WindowInPandasExec"):
            if node.partitionSpec().isEmpty():
                yield kind, node.orderSpec().toString()
        ch = node.children()
        for i in range(ch.size()):
            stack.append(ch.apply(i))


@pytest.mark.parametrize("spec", list(CATALOG.values()), ids=lambda s: s.name)
def test_no_unbounded_grain_global_window(spark, spec):
    df = spec.spark(spark, SF_DIR)
    jp = df._jdf.queryExecution().sparkPlan()
    offending = [
        (kind, order)
        for kind, order in _empty_partition_windows(jp)
        if _PID not in order  # distributed-sequence offsets window
        and spec.name not in BOUNDED_GRAIN_ALLOWLIST
    ]
    assert not offending, (
        f"{spec.name}: empty-partition {offending[0][0]} ordering on "
        f"{offending[0][1]} - a single-partition funnel at scale. "
        "Partition the window, derive the rank from "
        "operators/sequence.distributed_sequence, or argue the "
        "input's bound in BOUNDED_GRAIN_ALLOWLIST"
    )


def test_allowlist_entries_exist():
    stale = [n for n in BOUNDED_GRAIN_ALLOWLIST if n not in CATALOG]
    assert not stale, f"allowlist names not in catalog: {stale}"
