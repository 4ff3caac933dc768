"""Every registry query must run at sf0.001 with a stable, named schema.

(Full oracle comparison runs via tools/check_correctness.py at sf0.01;
this guards the registry surface cheaply inside pytest.)"""

import pytest

from rad_database_parse_spark.registry import all_queries

QUERIES = sorted(all_queries().items())


@pytest.mark.parametrize("name,qd", QUERIES, ids=[n for n, _ in QUERIES])
def test_query_runs_and_has_named_columns(spark, sf_dir, name, qd):
    missing = qd.missing_inputs()
    if missing:
        pytest.skip(f"missing input: {missing[0]}")
    df = qd.fn(spark, sf_dir)
    cols = df.columns
    assert cols, name
    assert len(set(cols)) == len(cols), f"duplicate column names in {name}"
    # no auto-generated aggregate names may leak (oracle hash needs aliases)
    assert not any("(" in c for c in cols), f"unaliased column in {name}: {cols}"
    assert df.limit(1).count() >= 0
