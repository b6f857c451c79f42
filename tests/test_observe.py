"""observe — the one reader of Spark's status store (``measure``) and of
executed-plan SQL metrics (``plan_nodes``/``plan_metric``).  The two
paths agree on a query's shuffle volume, a scope counts only its own
jobs, and no other reader of either is left in the repository."""

import os
import re

import pytest
from pyspark.sql import functions as F

from modis_aggregation_spark.observe import COUNTERS, measure, plan_metric, plan_nodes

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture
def _shuffle_join(spark):
    """Force a sort-merge join so the query below has three exchanges."""
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    yield
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def _join_two_level_agg(spark):
    facts = spark.range(20_000).select(
        (F.col("id") % 97).alias("k"), F.col("id").alias("v")
    )
    dims = spark.range(5_000).select(
        (F.col("id") % 97).alias("k"), (F.col("id") % 13).alias("w")
    )
    return (
        facts.join(dims, "k")
        .groupBy("k", "w").agg(F.sum("v").alias("s"))
        .groupBy("w").agg(F.max("s").alias("m"))
    )


def test_measure_shuffle_records_equal_plan_metric(spark, _shuffle_join):
    """Status-store stages and the plan's exchange metrics count the same
    shuffle records for one query under AQE."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    df = _join_two_level_agg(spark)
    with measure(spark, "observe/join_agg") as m:
        rows = df.collect()
    assert len(rows) == 13
    assert set(m) == set(COUNTERS)
    exchanges = {
        n.id() for n in plan_nodes(df)
        if n.getClass().getSimpleName() == "ShuffleExchangeExec"
    }
    assert len(exchanges) == 3
    records = plan_metric(df, "ShuffleExchangeExec", "shuffleRecordsWritten")
    assert records > 0
    assert m["shuffle_records"] == records
    assert m["shuffle_bytes"] == plan_metric(df, "ShuffleExchangeExec", "shuffleBytesWritten")
    assert m["jobs"] >= 1 and m["stages"] >= 4 and m["tasks"] >= m["stages"]
    assert m["peak_execution_memory_bytes"] > 0


def test_earlier_work_adds_nothing_to_a_scope(spark, _shuffle_join):
    """A query run just before the scope, unscoped or under the same
    label, adds no job, stage or shuffle record to the scope."""
    with measure(spark, "observe/repeat") as first:
        _join_two_level_agg(spark).collect()
    assert first["shuffle_records"] > 0
    _join_two_level_agg(spark).collect()
    with measure(spark, "observe/repeat") as m:
        spark.range(10).collect()
    assert (m["jobs"], m["stages"], m["shuffle_records"]) == (1, 1, 0)
    with measure(spark, "observe/empty") as empty:
        pass
    assert empty == dict.fromkeys(COUNTERS, 0)


def test_nested_scope_restores_callers_group(spark):
    sc = spark.sparkContext
    sc.setJobGroup("observe/outer", "outer work")
    try:
        with measure(spark, "observe/inner") as m:
            spark.range(5).collect()
        assert sc.getLocalProperty("spark.jobGroup.id") == "observe/outer"
        assert sc.getLocalProperty("spark.job.description") == "outer work"
        spark.range(5).collect()
        assert sc.statusTracker().getJobIdsForGroup("observe/outer")
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert m["jobs"] == 1


def test_plan_metric_sums_one_named_metric(spark):
    df = spark.range(100).where("id % 3 = 0")
    df.collect()
    assert plan_metric(df, "RangeExec", "numOutputRows") == 100
    assert plan_metric(df, "RangeExec", "noSuchMetric") == 0


_READERS = re.compile(r"statusStore\(\)|jobsList\(|stageList\(|\.metrics\(\)\.iterator\(\)")


def test_status_store_and_plan_metrics_read_only_in_observe():
    """No second status-store reader or plan-metric walker in the
    package, tools, tests, bench.py or the query entry point."""
    own = {
        os.path.join("modis_aggregation_spark", "observe.py"),
        os.path.join("tests", "test_observe.py"),
    }
    paths = ["bench.py", "__spark_entry__.py"]
    for top in ("modis_aggregation_spark", "tools", "tests"):
        for dirpath, _, files in os.walk(os.path.join(REPO, top)):
            paths += [
                os.path.relpath(os.path.join(dirpath, f), REPO)
                for f in files if f.endswith(".py")
            ]
    found = []
    for rel in sorted(set(paths) - own):
        with open(os.path.join(REPO, rel), encoding="utf-8") as fh:
            found += [f"{rel}:{i}" for i, line in enumerate(fh, 1) if _READERS.search(line)]
    assert found == []
