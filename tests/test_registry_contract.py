"""Registry contract, checked for every registered query.

``test_query_meets_registry_contract`` runs ``tools.oracle_check.
check_query`` once per query at sf0.001: no complex-typed output
columns (the driver's pandas canonicalizer cannot hash them), no
CartesianProduct or row-at-a-time Python UDF in the plan, and for
oracled queries the DuckDB differential — every Spark column named in
the oracle SQL, matching row count, column set and order-insensitive
value hash, and oracle dtypes that survive pandas. The negative
control below keeps a green sweep from being vacuous.

The whole module runs under a hostile re-plan (``HOSTILE``), so an
answer that depends on the physical partitioning fails its value
hash: order-dependent float accumulation, window ties broken by
arrival order, partition-seeded logic.
"""

from __future__ import annotations

import pytest

from bigdata_logs_spark.registry import REGISTRY, QuerySpec, register
from tools.oracle_check import HOSTILE, check_query, oracle_connection


@pytest.fixture(scope="module", autouse=True)
def hostile_conf(spark):
    """Run the module under ``HOSTILE``; yields the session's previous
    values, which are restored afterwards."""
    before = {k: spark.conf.get(k) for k in HOSTILE}
    try:
        for k, v in HOSTILE.items():
            spark.conf.set(k, v)
        yield before
    finally:
        for k, v in before.items():
            spark.conf.set(k, v)


@pytest.fixture(scope="module")
def oracle_con(sf_dir):
    con = oracle_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", list(REGISTRY))
def test_query_meets_registry_contract(spark, sf_dir, oracle_con, name):
    assert check_query(spark, oracle_con, name, REGISTRY[name], sf_dir) == []


def test_check_query_reports_each_planted_fault(
    spark, sf_dir, oracle_con, hostile_conf
):
    """Negative control: each fake spec plants one fault and must
    report exactly that problem; a well-behaved spec reports none.
    The ``partitioned`` canary's answer leaks the shuffle partition
    count: its oracle is its answer at the session's own conf, which
    the hostile re-plan must break."""
    from pyspark.sql import functions as F

    def ks(s):
        return s.range(3).select(F.col("id").alias("k"))

    def canary(s, _sf_dir):
        df = s.range(1000).withColumn("k", F.col("id") % 50)
        return (
            df.repartition("k")
            .select(F.spark_partition_id().alias("pid"))
            .agg(F.max("pid").alias("max_pid"))
        )

    # Margin: the canary's answer really differs between the two
    # confs (AQE may coalesce the default shuffle, so the default
    # answer is plan-dependent).
    try:
        for k, v in hostile_conf.items():
            spark.conf.set(k, v)
        default_pid = canary(spark, sf_dir).collect()[0][0]
    finally:
        for k, v in HOSTILE.items():
            spark.conf.set(k, v)
    assert canary(spark, sf_dir).collect()[0][0] == 6  # 7 partitions, AQE off
    assert default_pid != 6, "canary margin collapsed; pick a new canary"

    def cartesian(s, _sf_dir):
        right = s.range(4).select(F.col("id").alias("j"))
        return ks(s).hint("shuffle_replicate_nl").crossJoin(right)

    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode
    plan = cartesian(spark, sf_dir)._jdf.queryExecution().explainString(
        mode.fromString("formatted")
    )
    assert "CartesianProduct" in plan

    cases = {
        "ok": (lambda s, _: ks(s), "SELECT range AS k FROM range(3)", None),
        "value": (
            lambda s, _: ks(s),
            "SELECT range + 1 AS k FROM range(3)",
            "value-hash mismatch",
        ),
        "array": (
            lambda s, _: ks(s).select(F.array("k").alias("k")),
            None,
            "complex-typed column k",
        ),
        "unnamed": (
            lambda s, _: ks(s).select(F.col("k").alias("col0")),
            "SELECT * FROM (VALUES (0), (1), (2))",
            "never named in the oracle SQL: ['col0']",
        ),
        "cartesian": (cartesian, None, "CartesianProduct"),
        "row_udf": (
            lambda s, _: ks(s).select(F.udf(lambda k: k, "long")("k").alias("k")),
            None,
            "BatchEvalPython",
        ),
        "hugeint": (
            lambda s, _: ks(s).agg(F.sum("k").alias("total")),
            "SELECT SUM(range) AS total FROM range(3)",
            "oracle dtype total: float64",
        ),
        "partitioned": (
            canary,
            f"SELECT {default_pid} AS max_pid",
            "value-hash mismatch",
        ),
    }
    for name, (fn, oracle, expected) in cases.items():
        problems = check_query(spark, oracle_con, name, QuerySpec(fn, oracle), sf_dir)
        if expected is None:
            assert problems == [], name
        else:
            assert len(problems) == 1 and expected in problems[0], (name, problems)


def test_register_rejects_a_duplicate_name():
    """Re-registering a name raises, in both the ``op=`` and the
    decorator form, and leaves the registered entry in place."""
    before = list(REGISTRY.items())
    with pytest.raises(ValueError, match="'global_metrics' is already registered"):
        register("global_metrics", None, op=lambda events: events, tables=("events",))
    with pytest.raises(ValueError, match="'global_metrics' is already registered"):
        register("global_metrics", None)
    assert list(REGISTRY.items()) == before


def test_survey_ids_and_registry_tags_stay_in_lockstep():
    """Both directions of the SURVEY §2 <-> registry tag mapping:
    every registered tag is documented in the survey inventory, and
    every inventoried ID is either tagged on a registry query or in
    the explicit non-registry waiver list (tools/audit_tags.py)."""
    import tools.audit_tags as audit

    ids = audit.survey_section2_ids()
    tags = audit.registry_tags()
    assert sorted(tags - ids) == []
    assert sorted(i for i in ids - tags if i not in audit.WAIVED) == []


def test_certification_order_puts_stalest_first_rows_only_last(tmp_path):
    """``__spark_entry__`` presents oracled queries least recently
    certified first (per the CORRECTNESS_r*.json ledgers), ties and
    ledger-less runs in registry order, and rows-only queries last."""
    import json

    import __spark_entry__ as entry

    order = list(entry.queries())
    assert sorted(order) == sorted(REGISTRY)
    oracled = [n for n in order if REGISTRY[n].oracle is not None]
    rows_only = [n for n in REGISTRY if REGISTRY[n].oracle is None]
    assert rows_only and order == oracled + rows_only
    assert list(entry.oracle_sql()) == oracled
    last = entry.last_certified()
    rounds = [last.get(n, 0) for n in oracled]
    assert rounds == sorted(rounds) and rounds[0] < rounds[-1]

    by_registry = [n for n in REGISTRY if REGISTRY[n].oracle is not None]
    assert entry.certification_order(str(tmp_path)) == by_registry + rows_only
    a, b = by_registry[:2]
    for rnd, names in ((1, [a, b]), (2, [a])):
        (tmp_path / f"CORRECTNESS_r{rnd:02d}.json").write_text(
            json.dumps({n: {"hash_match": True} for n in names})
        )
    assert entry.certification_order(str(tmp_path))[-len(rows_only) - 2 :] == [
        b,
        a,
        *rows_only,
    ]
