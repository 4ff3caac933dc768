"""The benchmark's workloads: which registry queries a pass runs, on which data.

Each workload is a fixed list of registry query names over the fixed,
read-only seed-42 sf0.001 testdata shipped under ``perfbench/data``.
The workload seed only permutes the query order within each pass
(``pass_order``); the data never changes. README.md records why each
workload exists and which layer it stresses.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.001")


@dataclass(frozen=True)
class Workload:
    """``timed_passes`` whole passes are timed per run. Each workload's
    count puts at least 10 of query_p50_s's samples above the median and
    makes the timed window about half a minute long, so the run's medians
    outlast the host's slow spells of a few seconds."""

    name: str
    queries: tuple[str, ...]
    timed_passes: int


RELATIONAL = Workload(
    "relational",
    (
        "q3_shipping_priority",
        "q5_revenue_by_nation",
        "q8_market_share",
        "q18_large_volume_orders",
        "agg_rollup_region_nation",
    ),
    timed_passes=6,
)

INGEST = Workload(
    "ingest",
    (
        "txn_concurrent_conflict_retry",
        "stream_static_join_segments",
        "csv_roundtrip_region",
        "json_roundtrip_orders",
        "orc_roundtrip_supplier",
    ),
    timed_passes=4,
)

WORKLOADS: dict[str, Workload] = {w.name: w for w in (RELATIONAL, INGEST)}


def pass_order(workload: Workload, seed: int, pass_index: int) -> list[str]:
    """The query order of one pass: a permutation fixed by (seed, pass)."""
    order = list(workload.queries)
    random.Random(f"{seed}:{pass_index}").shuffle(order)
    return order
