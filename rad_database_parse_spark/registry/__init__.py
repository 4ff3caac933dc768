"""Query registry — every operator exposed through __spark_entry__.py.

Each entry pairs a Spark query builder ``(spark, sf_dir) -> DataFrame`` with
an equivalent DuckDB oracle SQL string (or None for non-SQL-expressible
operators, which the driver checks rows-only).

Float-parity policy (what makes hash-compare possible across engines):
- money-like 2-decimal columns are cast to DECIMAL before +/* aggregation —
  decimal arithmetic is exact, so both engines produce bit-identical sums;
- divisions happen in double AFTER exact aggregation (IEEE ops on identical
  operands are deterministic);
- genuinely-float quantities (cosines) are rounded before ranking and ties
  break on ids.
"""

from __future__ import annotations

import importlib
import os
import pkgutil
from dataclasses import dataclass
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession


@dataclass(frozen=True)
class QueryDef:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # DuckDB SQL over the pre-registered views, or None
    # external paths the builder reads besides sf_dir (e.g. reference PDFs)
    inputs: tuple[str, ...] = ()

    def missing_inputs(self) -> list[str]:
        return [p for p in self.inputs if not os.path.exists(p)]


_REGISTRY: dict[str, QueryDef] = {}


def register(name: str, oracle: str | None, inputs: tuple[str, ...] = ()):
    def deco(fn):
        if name in _REGISTRY:  # a silent overwrite once hid a whole op
            raise ValueError(
                f"duplicate registry name {name!r}: already registered by "
                f"{_REGISTRY[name].fn.__module__}"
            )
        _REGISTRY[name] = QueryDef(fn=fn, oracle=oracle, inputs=inputs)
        return fn

    return deco


# The correctness gate checks the FIRST 50 queries of
# all_queries(). WINDOW pins them: the registered queries whose latest row
# in the committed CORRECTNESS_r*.json files is oldest, ties broken by
# name, so every round re-checks the stalest ones. To rotate after a new
# CORRECTNESS file lands, run tests/test_window_canary.py and paste the
# list its failure message prints.
WINDOW = [
    "agg_corr_from_sums",
    "agg_grouping_id",
    "agg_min_max_by",
    "agg_percentiles_by_flag",
    "bucketed_join_no_shuffle",
    "events_hour_gaps",
    "map_hof_suite",
    "map_type_entries",
    "partitioned_scan_prune",
    "pivot_qty_by_status",
    "q10_returned_item_revenue",
    "q13_order_count_distribution",
    "q14_promo_revenue_share",
    "q15_top_supplier",
    "q17_small_quantity_revenue",
    "q18_large_volume_orders",
    "q19_disjunctive_predicates",
    "q21_waiting_supplier",
    "q22_idle_customers",
    "q4_priority_with_late_item",
    "q6_forecast_revenue",
    "q7_nation_volume",
    "q8_market_share",
    "set_except_customers",
    "set_exceptall_lineitems",
    "set_intersectall_lineitems",
    "sort_limit_top_orders",
    "sql_api_rank_revenue",
    "string_functions",
    "unpivot_lineitem_measures",
    "window_analytic_suite",
    "agg_approx_vs_exact_distinct",
    "asof_last_view_before_purchase",
    "cohort_retention",
    "datetime_functions",
    "dedup_events_by_id",
    "docs_array_token_ops",
    "docs_cooccurrence_lift",
    "docs_decontaminate",
    "docs_dedup_keep_best",
    "docs_exact_dedup",
    "docs_extract_numbers",
    "docs_fingerprint",
    "docs_language_id",
    "docs_minhash_lsh",
    "docs_neardup_clusters",
    "docs_ngram_jaccard",
    "docs_quality_score",
    "docs_simhash",
    "docs_tfidf_top_terms",
]


def all_queries() -> dict[str, QueryDef]:
    """Every registered query: WINDOW first, then the rest in name order.

    Importing each module registers its queries; the order does not depend
    on which modules were imported earlier."""
    for mod in pkgutil.iter_modules(__path__):
        importlib.import_module(f"{__name__}.{mod.name}")
    missing = [n for n in WINDOW if n not in _REGISTRY]
    if missing:  # a rename/removal must fail loudly, not silently shrink
        raise RuntimeError(f"window names not in registry: {missing}")
    pinned = set(WINDOW)
    rest = sorted(n for n in _REGISTRY if n not in pinned)
    return {n: _REGISTRY[n] for n in WINDOW + rest}
