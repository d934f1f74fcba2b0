"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash → CORRECTNESS_r{N}.json).

All real logic lives in ``bigdata_logs_spark``; the registry there
colocates every Spark query with its DuckDB oracle.
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from bigdata_logs_spark.registry import REGISTRY  # noqa: E402

SF0001 = "/root/testdata/sf0.001"


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query: the fused per-entity suspicious-score profile
    (SURVEY.md D-25..D-31 + D-14 + D-43) on sf0.001."""
    from bigdata_logs_spark.operators.dashboard import entity_profile_sorted
    from bigdata_logs_spark.sources import load_table

    return entity_profile_sorted(load_table(spark, SF0001, "events"))


def last_certified(ledger_dir: str = HERE) -> dict[str, int]:
    """Query name -> the last round whose ``CORRECTNESS_r{N}.json``
    ledger recorded a hash match for it."""
    last: dict[str, int] = {}
    for path in glob.glob(os.path.join(ledger_dir, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if not m:
            continue
        with open(path) as f:
            for name, row in json.load(f).items():
                if row.get("hash_match"):
                    last[name] = max(last.get(name, 0), int(m.group(1)))
    return last


def certification_order(ledger_dir: str = HERE) -> list[str]:
    """Registry names in the order the driver should certify them.
    The driver's per-round correctness sweep records only the first
    ~50 entries, so oracled queries come first (a rows-only query can
    never certify), the least recently certified of them leading (0
    if never). ``sorted`` is stable, so ties keep registry order."""
    last = last_certified(ledger_dir)
    return sorted(
        REGISTRY, key=lambda n: (REGISTRY[n].oracle is None, last.get(n, 0))
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2, in
    ``certification_order()``; REGISTRY itself stays in source order."""
    return {name: REGISTRY[name].fn for name in certification_order()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-runnable ANSI SQL twin for each oracle-checkable query."""
    return {
        name: REGISTRY[name].oracle
        for name in certification_order()
        if REGISTRY[name].oracle is not None
    }
