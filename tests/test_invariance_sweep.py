"""Partitioning invariance: the hostile re-plan must catch a canary.

``tests/test_registry_contract.py`` runs every registry query's
contract check under ``HOSTILE`` (7 shuffle partitions, AQE off,
64 KiB scan splits). The oracle does not depend on Spark's plan, so a
query whose answer leaks the physical partitioning fails its value
hash there. This module is the standalone negative control of that
sweep: a partition-dependent canary must fail, and a well-behaved
sibling on the same data must pass.
"""

from __future__ import annotations

from bigdata_logs_spark.registry import REGISTRY, QuerySpec
from tools.oracle_check import HOSTILE, check_query, oracle_connection


def test_sweep_detects_partition_dependent_canary(spark, sf_dir):
    """The canary shuffles to ``spark.sql.shuffle.partitions`` tasks
    and returns the max ``spark_partition_id`` it saw. Its oracle is
    its answer at the session's own conf; under ``HOSTILE`` (AQE off)
    the answer is exactly 6, so ``check_query`` must report a
    value-hash mismatch. The two answers must really differ (asserted
    below: AQE may coalesce the default shuffle, so the default answer
    is plan-dependent). The sibling's grouped sum has the same answer
    under any plan and must pass."""
    from pyspark.sql import functions as F

    def canary(spark_, _sf_dir):
        df = spark_.range(1000).withColumn("k", F.col("id") % 50)
        return (
            df.repartition("k")
            .select(F.spark_partition_id().alias("pid"))
            .agg(F.max("pid").alias("max_pid"))
        )

    def wellbehaved(spark_, _sf_dir):
        df = spark_.range(1000).withColumn("k", F.col("id") % 50)
        return df.groupBy("k").agg(F.sum("id").alias("s")).orderBy("k")

    defaults = {k: spark.conf.get(k) for k in HOSTILE}
    con = oracle_connection(sf_dir)
    try:
        a_pid = canary(spark, sf_dir).collect()[0][0]
        specs = {
            "canary": QuerySpec(canary, f"SELECT {a_pid} AS max_pid"),
            "ok": QuerySpec(
                wellbehaved,
                "SELECT range % 50 AS k, CAST(SUM(range) AS BIGINT) AS s "
                "FROM range(1000) GROUP BY 1",
            ),
        }
        for k, v in HOSTILE.items():
            spark.conf.set(k, v)
        b_pid = canary(spark, sf_dir).collect()[0][0]
        problems = {
            name: check_query(spark, con, name, spec, sf_dir)
            for name, spec in specs.items()
        }
    finally:
        for k, v in defaults.items():
            spark.conf.set(k, v)
        con.close()
    assert b_pid == 6  # 7 hostile shuffle partitions, AQE off
    assert a_pid != b_pid, "canary margin collapsed; pick a new canary"
    assert problems["ok"] == []
    assert len(problems["canary"]) == 1, problems
    assert "value-hash mismatch" in problems["canary"][0]


def test_approx_distinct_counts_ignore_the_plan(spark, sf_dir):
    """``global_metrics_approx`` is rows-only in the contract (Spark's
    HLL++ has no DuckDB twin), so the hostile contract run checks only
    its row count. Its sketches merge by register max, which does not
    depend on how rows are partitioned or in which order partial
    aggregates combine: the rows must be identical at the session's
    defaults and under ``HOSTILE``, and the conf is restored after."""
    fn = REGISTRY["global_metrics_approx"].fn
    defaults = {k: spark.conf.get(k) for k in HOSTILE}
    at_defaults = fn(spark, sf_dir).collect()
    try:
        for k, v in HOSTILE.items():
            spark.conf.set(k, v)
        hostile = fn(spark, sf_dir).collect()
    finally:
        for k, v in defaults.items():
            spark.conf.set(k, v)
    assert {k: spark.conf.get(k) for k in HOSTILE} == defaults
    assert hostile == at_defaults
    assert at_defaults[0]["total_records"] > 0
