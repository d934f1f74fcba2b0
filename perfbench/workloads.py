"""The benchmark's workloads.

Each op is one call into the program's public functions that returns
a DataFrame; the runner times it from construction through a ``noop``
write, so every projected column is computed. Each op also carries the
DuckDB SQL its collected result must match (rows, column set and
``tools/oracle_check.table_hash``).

- ``dashboard`` and ``curation`` ops are registry queries,
  ``REGISTRY[name].fn(spark, tables_dir)``, checked against the
  registry's own oracle SQL.
- ``ingest`` ops call ``sources``, ``operators.parse`` and
  ``streaming.ingest`` directly on the generated backlog; their oracle
  is the matching registry oracle with its synthesized line source
  (``SSH_GEN_CTE``) replaced by the backlog's lines.
"""

from __future__ import annotations

import os
import uuid
from collections.abc import Callable
from contextlib import AbstractContextManager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdata_logs_spark import registry as R
from bigdata_logs_spark.operators.enrich import with_event_time
from bigdata_logs_spark.operators.parse import parse_ssh_lines
from bigdata_logs_spark.sources import read_ssh_log_text
from bigdata_logs_spark.streaming import (
    read_ssh_stream,
    run_stream_to_memory,
    stream_dedup,
    stream_parsed_to_parquet,
    windowed_event_counts,
)

import gen_ssh

# DuckDB table the runner fills with the backlog's lines.
SSH_LINES_TABLE = "ssh_lines"


@dataclass
class Inputs:
    """Where one run's generated inputs live."""

    tables_dir: str
    ssh_dir: str
    work_dir: str
    # Sink and checkpoint dirs an op created; the runner deletes them
    # between op-reps, outside the timing.
    scratch: list[str] = field(default_factory=list)

    def fresh_dir(self, prefix: str) -> str:
        path = os.path.join(self.work_dir, f"{prefix}-{uuid.uuid4().hex[:12]}")
        self.scratch.append(path)
        return path


Span = Callable[[str], AbstractContextManager]


@dataclass(frozen=True)
class Op:
    name: str
    fn: Callable[[SparkSession, Inputs, Span], DataFrame]
    oracle: str


@dataclass(frozen=True)
class Workload:
    ops: tuple[Op, ...]
    # Generated input sizes: table rows for gen_tables (the first table
    # is the one rows_per_s counts), lines for gen_ssh.
    tables: dict[str, int]
    lines: int
    # The op whose median wall divides the input rows in rows_per_s;
    # None: the whole pass (sum of per-op medians).
    headline: str | None


def _registry_op(name: str) -> Op:
    spec = R.REGISTRY[name]
    return Op(name, lambda spark, inp, span: spec.fn(spark, inp.tables_dir), spec.oracle)


def _backlog_oracle(name: str) -> str:
    """The registry's oracle for ``name``, reading the backlog's lines
    instead of lines synthesized from ``events``."""
    sql = R.REGISTRY[name].oracle
    if not sql.startswith(R.SSH_GEN_CTE):
        raise ValueError(f"{name}: oracle does not start with SSH_GEN_CTE")
    return (
        f"\nWITH gen AS (SELECT value FROM {SSH_LINES_TABLE})\n"
        + sql[len(R.SSH_GEN_CTE) :]
    )


def _drain(spark, span: Span, df: DataFrame, name: str, mode: str) -> DataFrame:
    with span("streaming.drain"):
        run_stream_to_memory(df, name, output_mode=mode)
    return spark.table(name)


def parse_batch(spark, inp: Inputs, span: Span) -> DataFrame:
    """Batch parse of the backlog: text scan -> regex parse -> event time."""
    with span("sources.read_text"):
        raw = read_ssh_log_text(spark, inp.ssh_dir)
    with span("operators.parse"):
        return with_event_time(parse_ssh_lines(raw))


def windowed_counts(spark, inp: Inputs, span: Span) -> DataFrame:
    parsed = read_ssh_stream(spark, inp.ssh_dir)
    counts = windowed_event_counts(parsed, window="1 hour", watermark=None)
    out = _drain(spark, span, counts, "perfbench_hourly", "complete")
    return out.select(
        F.date_format("window.start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "event",
        "n",
    ).orderBy("window_start", "event")


def dedup(spark, inp: Inputs, span: Span) -> DataFrame:
    parsed = read_ssh_stream(spark, inp.ssh_dir)
    deduped = stream_dedup(parsed, watermark="1 hour")
    out = _drain(spark, span, deduped, "perfbench_dedup", "append")
    return (
        out.groupBy("event")
        .agg(F.count(F.lit(1)).alias("distinct_lines"))
        .orderBy("event")
    )


def parquet_store(spark, inp: Inputs, span: Span) -> DataFrame:
    """Streaming ETL into a fresh parquet store, then a batch read-back."""
    store, ckpt = inp.fresh_dir("store"), inp.fresh_dir("ckpt")
    with span("streaming.drain"):
        stream_parsed_to_parquet(
            read_ssh_stream(spark, inp.ssh_dir).select("ip", "event"), store, ckpt
        )
    with span("sources.read_parquet"):
        stored = spark.read.parquet(store)
    return (
        stored.groupBy("event")
        .agg(F.count(F.lit(1)).alias("n"), F.countDistinct("ip").alias("distinct_ips"))
        .orderBy("event")
    )


_TS_SQL = "strptime('2024 ' || month || ' ' || day || ' ' || time, '%Y %b %d %H:%M:%S')"

INGEST_OPS = (
    Op(
        "parse_batch",
        parse_batch,
        f"SELECT *, {_TS_SQL} AS ts FROM ({_backlog_oracle('ssh_parse_full')}) AS p",
    ),
    Op("windowed_counts", windowed_counts, _backlog_oracle("streaming_hourly_counts")),
    Op("dedup", dedup, _backlog_oracle("streaming_dedup_counts")),
    Op("parquet_store", parquet_store, _backlog_oracle("streaming_store_etl")),
)

DASHBOARD_OPS = tuple(
    _registry_op(n)
    for n in (
        "global_metrics",
        "event_type_counts",
        "events_per_day",
        "entity_event_matrix",
        "entity_profile",
    )
)

CURATION_OPS = tuple(
    _registry_op(n)
    for n in (
        "corpus_dedup_funnel",
        "contamination_check",
        "tfidf_top_terms",
        "knn_brute_force",
    )
)

WORKLOADS = {
    "dashboard": Workload(DASHBOARD_OPS, {"events": 10_000}, 0, None),
    "ingest": Workload(INGEST_OPS, {}, gen_ssh.LINES, "windowed_counts"),
    "curation": Workload(CURATION_OPS, {"documents": 500, "embeddings": 500}, 0, None),
}
