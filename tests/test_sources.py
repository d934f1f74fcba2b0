"""``load_table``: both physical forms of ``ts``, and the per-file
schema memo that lets a repeated load skip the inference job."""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from bigdata_logs_spark.sources import load_table

NTZ_CONF = "spark.sql.parquet.inferTimestampNTZ.enabled"
NANOS = [1_700_000_000_123_456_789, 1_700_000_360_000_000_999]


def _next_job(spark) -> int:
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def _write_events(sf_dir, unit: str, extra_col: bool = False) -> None:
    per_tick = {"ns": 1, "us": 1_000}[unit]
    cols = {
        "ts": pa.array([n // per_tick for n in NANOS], pa.timestamp(unit)),
        "value": pa.array([1.5, 2.5]),
    }
    if extra_col:
        cols["src_ip"] = pa.array(["10.0.0.1", "10.0.0.2"])
    pq.write_table(pa.table(cols), str(sf_dir / "events.parquet"))


def _micros(df) -> list[int]:
    rows = df.select(F.unix_micros("ts")).orderBy(1).collect()
    return [r[0] for r in rows]


def test_nanos_ts_reads_as_truncated_micros_timestamp(spark, tmp_path):
    _write_events(tmp_path, "ns")
    first = load_table(spark, str(tmp_path), "events")
    assert first.schema["ts"].dataType.simpleString() == "timestamp"
    assert _micros(first) == [n // 1_000 for n in NANOS]

    job = _next_job(spark)
    again = load_table(spark, str(tmp_path), "events")
    assert _next_job(spark) == job  # served by the memo
    assert again.schema == first.schema
    assert sorted(again.collect()) == sorted(first.collect())


def test_unchanged_file_loads_without_a_job(spark, tmp_path):
    _write_events(tmp_path, "us")
    first = load_table(spark, str(tmp_path), "events")
    assert first.schema["ts"].dataType.simpleString() == "timestamp_ntz"
    job = _next_job(spark)
    again = load_table(spark, str(tmp_path), "events")
    assert _next_job(spark) == job
    assert sorted(again.collect()) == sorted(first.collect())


def test_rewritten_file_is_reinferred(spark, tmp_path):
    _write_events(tmp_path, "us")
    assert "src_ip" not in load_table(spark, str(tmp_path), "events").columns
    _write_events(tmp_path, "us", extra_col=True)
    df = load_table(spark, str(tmp_path), "events")
    assert "src_ip" in df.columns
    assert sorted(r.src_ip for r in df.collect()) == ["10.0.0.1", "10.0.0.2"]


@pytest.mark.parametrize("ntz", ["false", "true"])
def test_inference_conf_flip_is_reinferred(spark, tmp_path, ntz):
    _write_events(tmp_path, "us")
    before = spark.conf.get(NTZ_CONF)
    flipped = "false" if ntz == "true" else "true"
    try:
        spark.conf.set(NTZ_CONF, ntz)
        load_table(spark, str(tmp_path), "events")
        spark.conf.set(NTZ_CONF, flipped)
        df = load_table(spark, str(tmp_path), "events")
    finally:
        spark.conf.set(NTZ_CONF, before)
    want = "timestamp_ntz" if flipped == "true" else "timestamp"
    assert df.schema["ts"].dataType.simpleString() == want
