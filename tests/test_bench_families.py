"""bench.py's battery and final-line contract, checked without Spark.

Every registered query whose declared inputs exist is timed exactly once:
either in HEADLINE or in the family of its defining module. The final
stdout line carries the named headline map, or says it dropped it.
"""

import json

import bench
from rad_database_parse_spark.registry import QueryDef, all_queries


def test_every_runnable_query_is_timed_exactly_once():
    registry = all_queries()
    fams = bench.families(registry)
    timed = list(bench.HEADLINE) + [n for names in fams.values() for n in names]
    assert len(timed) == len(set(timed))
    runnable = {n for n, qd in registry.items() if not qd.missing_inputs()}
    assert set(timed) == runnable
    for key, names in fams.items():
        for n in names:
            module = registry[n].fn.__module__.rsplit(".", 1)[-1]
            assert key == f"value_extended_{module}", n


def test_query_with_missing_input_is_left_out():
    def fn(spark, sf_dir):
        return None

    registry = {
        "present": QueryDef(fn=fn, oracle=None),
        "absent": QueryDef(fn=fn, oracle=None, inputs=("/nonexistent/input",)),
    }
    assert [n for names in bench.families(registry).values() for n in names] == [
        "present"
    ]


def test_last_line_carries_headline_map_without_subtotals():
    summary = {"metric": "m", "value": 1.5, "value_extended_x": 2.0, "sf": 0.1}
    line = json.loads(bench.last_line(summary, {"q1": 0.5}))
    assert line == {"metric": "m", "value": 1.5, "sf": 0.1, "queries": {"q1": 0.5}}


def test_last_line_marks_a_dropped_map():
    summary = {"metric": "m", "value": 1.5}
    headline = {f"query_{i:03d}_{'x' * 40}": 1.234 for i in range(60)}
    line = bench.last_line(summary, headline)
    assert len(line) <= bench.LAST_LINE_CAP
    parsed = json.loads(line)
    assert parsed["queries_dropped"] is True
    assert "queries" not in parsed and parsed["value"] == 1.5
