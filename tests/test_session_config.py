"""Session-factory hygiene (ADVICE r10, GC default r12).

1. ``clear_caches``: catalog ``clearCache()`` does not release
   RDD-level persists (``localCheckpoint`` blocks live outside the
   CacheManager); the gate/bench hygiene sweep must release both.
2. ``_merge_gc_flag``: the r12 ParallelGC default must never clobber
   an explicit collector choice.
3. ``_env_conf``: the ``SPARK_GRAFT_CONF`` A/B hook parses pairs and
   rejects JVM options loudly.
"""

from __future__ import annotations

from pyspark import StorageLevel

import pytest

from rad_database_parse_spark.session import (
    _GC_FLAG,
    _env_conf,
    _merge_gc_flag,
    clear_caches,
)


def test_env_conf_parses_pairs(monkeypatch):
    monkeypatch.setenv(
        "SPARK_GRAFT_CONF",
        "spark.sql.join.preferSortMergeJoin=false; spark.io.compression.codec=zstd ;",
    )
    assert _env_conf() == {
        "spark.sql.join.preferSortMergeJoin": "false",
        "spark.io.compression.codec": "zstd",
    }


def test_env_conf_empty_and_malformed(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CONF", raising=False)
    assert _env_conf() == {}
    monkeypatch.setenv("SPARK_GRAFT_CONF", "no-equals-sign")
    with pytest.raises(ValueError):
        _env_conf()


def test_env_conf_rejects_jvm_options(monkeypatch):
    # silently dropping a JVM-flag arm would make an A/B measure stock
    # with no signal (ADVICE r12) — it must fail loudly, pointing at
    # SPARK_DRIVER_EXTRA_JAVA_OPTIONS
    monkeypatch.setenv(
        "SPARK_GRAFT_CONF", "spark.driver.extraJavaOptions=-XX:+UseZGC"
    )
    with pytest.raises(ValueError, match="SPARK_DRIVER_EXTRA_JAVA_OPTIONS"):
        _env_conf()


def test_gc_flag_appended_by_default():
    assert _merge_gc_flag("") == _GC_FLAG
    assert _merge_gc_flag("-Xss4m") == f"-Xss4m {_GC_FLAG}"


def test_gc_flag_never_clobbers_explicit_collector():
    # + and - forms, any collector name
    assert _merge_gc_flag("-XX:+UseZGC") == "-XX:+UseZGC"
    assert _merge_gc_flag("-XX:+UseG1GC -Xss4m") == "-XX:+UseG1GC -Xss4m"
    assert _merge_gc_flag("-XX:-UseG1GC") == "-XX:-UseG1GC"
    assert _merge_gc_flag(_GC_FLAG) == _GC_FLAG


def test_clear_caches_releases_localcheckpoint_blocks(spark):
    df = spark.range(100).localCheckpoint(eager=True)
    df.count()
    rdd = spark.range(50).rdd.persist(StorageLevel.MEMORY_AND_DISK)
    rdd.count()
    assert spark.sparkContext._jsc.getPersistentRDDs().size() > 0
    clear_caches(spark)
    assert spark.sparkContext._jsc.getPersistentRDDs().size() == 0
