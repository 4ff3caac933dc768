"""Tests for the benchmark's own code. None of them starts Spark.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest
from hypothesis import given
from hypothesis import strategies as st

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from stats import (  # noqa: E402
    Tally,
    percentile,
    result_line,
    rows_match,
    valid_metric_name,
    valid_unit,
)
from tracing import Span, Tracer, covered, patch_layers  # noqa: E402
from worker import LAYER_UNITS  # noqa: E402
from workloads import SF_DIR, WORKLOADS, pass_order  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


# -- percentile with sample count ------------------------------------------


def test_median_of_21_has_ten_samples_above():
    p = percentile([float(v) for v in range(21, 0, -1)], 50)
    assert (p.value, p.n, p.above) == (11.0, 21, 10)


def test_percentile_counts_ties_at_the_value_as_not_above():
    p = percentile([1.0, 1.0, 1.0, 2.0], 50)
    assert (p.value, p.n, p.above) == (1.0, 4, 1)


def test_percentile_extremes_and_errors():
    assert percentile([3.0, 1.0, 2.0], 100).value == 3.0
    assert percentile([3.0], 50).value == 3.0
    with pytest.raises(ValueError):
        percentile([], 50)
    with pytest.raises(ValueError):
        percentile([1.0], 0)


# -- failure and mismatch counting ------------------------------------------


def test_tally_counts_raised_and_mismatched_executions():
    tally = Tally()
    tally.record(rows_match(5, 5))  # right count
    tally.record(rows_match(4, 5))  # wrong count
    tally.record(rows_match(None, 5))  # raised: no count
    tally.record(True)
    assert (tally.attempted, tally.failed) == (4, 2)
    assert tally.error_rate == 0.5
    assert Tally().error_rate == 0.0


def test_result_line_is_correct_only_without_failures():
    good, bad = Tally(), Tally()
    good.record(True)
    bad.record(True)
    bad.record(False)
    metrics = {"pass_s": (1.25, "s")}
    g, b = json.loads(result_line(good, metrics)), json.loads(result_line(bad, metrics))
    assert set(g) == {"correct", "attempted", "failed", "metrics"}
    assert g["correct"] is True and b["correct"] is False
    assert (b["attempted"], b["failed"]) == (2, 1)
    assert g["metrics"] == {"pass_s": {"value": 1.25, "unit": "s"}}
    assert json.loads(result_line(Tally(), metrics))["correct"] is False


# -- metric-name grammar -----------------------------------------------------


@pytest.mark.parametrize(
    "name", ["setup_s", "catalog.load_calls", "execute.busy_ratio", "9x", "a-b", "a" * 64]
)
def test_valid_metric_names(name):
    assert valid_metric_name(name)


@pytest.mark.parametrize("name", ["", "_x", ".x", "a b", "a/b", "é", "a" * 65, "x\n"])
def test_invalid_metric_names(name):
    assert not valid_metric_name(name)
    with pytest.raises(ValueError):
        result_line(Tally(), {name: (1.0, "s")})


def test_units():
    assert all(valid_unit(u) for u in ["s", "ms", "1/s", "count", "%", "MB", "ratio"])
    assert not valid_unit("") and not valid_unit("a b") and not valid_unit("x" * 17)


def test_benchmark_json_matches_what_the_runs_print():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert set(spec["workloads"][i]["name"] for i in range(len(spec["workloads"]))) == set(
        WORKLOADS
    )
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == LAYER_UNITS
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]]
    assert len(names) == len(set(names))
    assert all(valid_metric_name(n) for n in names)


# -- spans ------------------------------------------------------------------

interval = st.tuples(st.floats(-10, 20), st.floats(0, 10)).map(lambda t: (t[0], t[0] + t[1]))


@given(st.floats(0, 10), st.lists(interval, max_size=8))
def test_self_time_never_exceeds_duration(length, kids):
    tracer = Tracer("t")
    parent = Span(0, "t", "registry.build", None, 0.0, length)
    tracer.spans.append(parent)
    for i, (a, b) in enumerate(kids, 1):
        tracer.spans.append(Span(i, "t", "catalog.load", 0, a, b))
    assert 0.0 <= tracer.self_time(parent) <= parent.duration + 1e-9


def test_covered_merges_overlaps_and_clips():
    assert covered([(1, 3), (2, 4), (6, 20)], 0, 10) == 3 + 4
    assert covered([(0, 10), (2, 3)], 0, 10) == 10
    assert covered([], 0, 10) == 0


def test_tracer_nests_spans_and_counts_jobs():
    ticks = iter(range(100))
    jobs = iter(range(0, 1000, 10))
    tracer = Tracer("run-1", job_counter=lambda: next(jobs), clock=lambda: float(next(ticks)))
    with tracer.span("query") as q:
        with tracer.span("registry.build") as b:
            with tracer.span("catalog.load") as load:
                pass
        with pytest.raises(KeyError), tracer.span("execute") as x:
            raise KeyError
    assert (b.parent, load.parent, x.parent, q.parent) == (q.id, b.id, q.id, None)
    assert {s.run for s in tracer.spans} == {"run-1"}
    assert load.jobs == 10 and b.jobs == 30
    assert tracer.self_time(b) == b.duration - load.duration
    assert x.attrs["error"] == "KeyError"
    assert tracer.named("catalog.load", within=b) == [load]
    assert tracer.named("catalog.load", within=x) == []


def test_patch_layers_wraps_and_restores(monkeypatch):
    from rad_database_parse_spark.catalog import io, txn
    from rad_database_parse_spark.registry import _util

    def conflicting_commit(*args, **kwargs):
        raise txn.CommitConflict("v1 taken")

    monkeypatch.setattr(txn, "commit", conflicting_commit)
    monkeypatch.setattr(io, "load_table", lambda spark, sf_dir, name: name)
    monkeypatch.setattr(_util, "load_table", io.load_table)
    tracer = Tracer("t")
    with patch_layers(tracer):
        assert _util.t(None, "d", "orders") == "orders"
        with pytest.raises(txn.CommitConflict):
            txn.commit(None, "root", None, "op", 0)
    assert txn.commit is conflicting_commit
    load, commit = tracer.spans
    assert load.name == "catalog.load" and commit.name == "catalog.commit"
    assert commit.attrs == {"conflict": True, "error": "CommitConflict"}


# -- workloads and launcher ---------------------------------------------------


def test_pass_order_is_a_seeded_permutation():
    w = WORKLOADS["relational"]
    a = pass_order(w, 7, 1)
    assert sorted(a) == sorted(w.queries)
    assert a == pass_order(w, 7, 1)
    assert a != pass_order(w, 8, 1) or a != pass_order(w, 7, 2)


def test_every_workload_query_has_an_oracle_twin_and_data():
    from rad_database_parse_spark.catalog.io import TESTDATA_TABLES
    from rad_database_parse_spark.registry import all_queries

    registry = all_queries()
    for w in WORKLOADS.values():
        assert len(set(w.queries)) == len(w.queries)
        for name in w.queries:
            assert registry[name].oracle, name
    for table in TESTDATA_TABLES:
        assert os.path.isfile(os.path.join(SF_DIR, f"{table}.parquet"))


@pytest.mark.parametrize("name", sorted(WORKLOADS))
def test_timed_passes_put_ten_samples_above_the_median(name):
    w = WORKLOADS[name]
    samples = [float(v) for v in range(len(w.queries) * w.timed_passes)]
    assert percentile(samples, 50).above >= 10


def test_launcher_fails_without_the_package(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("data", ".*"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "relational",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert proc.returncode != 0
    assert proc.stdout == ""
