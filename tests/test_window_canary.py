"""Correctness-window canary: the correctness gate checks the first 50
names of ``all_queries()``, and ``registry.WINDOW`` pins them.

WINDOW must equal the stalest-first derivation over the committed
CORRECTNESS_r*.json files: the 50 registered queries whose latest
correctness row is oldest (a never-checked query counts as oldest), ties
broken by name. When a new CORRECTNESS file lands, the derivation test
fails and prints the rotated list to paste into ``registry/__init__.py``.
An import reorder must not be able to re-run an already-green window.
"""

import glob
import json
import os
import re

import pytest

from rad_database_parse_spark.registry import WINDOW, all_queries

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CORRECTNESS = sorted(glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")))


def stalest_first(names, files):
    """``names`` ordered by the round of their latest row in ``files``,
    oldest first (never checked = round 0), then by name."""
    latest: dict[str, int] = {}
    for f in files:
        rnd = int(re.search(r"CORRECTNESS_r(\d+)\.json$", f).group(1))
        with open(f) as fh:
            for q in json.load(fh):
                latest[q] = max(latest.get(q, 0), rnd)
    return sorted(names, key=lambda n: (latest.get(n, 0), n))


def test_window_leads_all_queries():
    names = list(all_queries())
    assert names[:50] == WINDOW


def test_full_pinned_order_holds():
    # WINDOW first, then every other query in name order
    names = list(all_queries())
    assert names == WINDOW + sorted(set(names) - set(WINDOW))


def test_window_is_immune_to_direct_module_imports():
    # Simulate __spark_entry__.entry() touching a registry module before
    # queries() is called — the pinned order must not change.
    import rad_database_parse_spark.registry.core_relational  # noqa: F401
    import rad_database_parse_spark.registry.llm_ops  # noqa: F401

    assert list(all_queries())[:50] == WINDOW


def test_every_window_name_unique_and_registered():
    assert len(WINDOW) == len(set(WINDOW)) == 50
    assert set(WINDOW) <= set(all_queries())


@pytest.mark.skipif(not CORRECTNESS, reason="no committed CORRECTNESS_r*.json")
def test_window_is_the_stalest_first_derivation():
    expected = stalest_first(all_queries(), CORRECTNESS)[:50]
    listing = "".join(f'    "{n}",\n' for n in expected)
    assert WINDOW == expected, (
        "the window is due to rotate; set registry.WINDOW to:\n"
        f"WINDOW = [\n{listing}]"
    )


def test_r13_window_completes_cumulative_coverage():
    # the union of every CORRECTNESS file's keys plus the first 50 of
    # this rotation must cover the whole registry. Uses the committed
    # artifacts, so the test is self-verifying against the real
    # correctness history.
    if not CORRECTNESS:  # fresh clone without artifacts: nothing to assert
        return
    checked: set[str] = set()
    for f in CORRECTNESS:
        with open(f) as fh:
            checked.update(json.load(fh))
    names = list(all_queries())
    assert checked.union(names[:50]) >= set(names)
