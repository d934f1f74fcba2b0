"""Streaming throughput bench: rows/s through the full streaming
path — file-tail source -> SSH parse -> event-time windowed counts ->
memory sink, drained with availableNow.

Callable from bench.py (adds a "streaming" section to the one-line
JSON) or standalone:

    SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 python bench_streaming.py
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit")


def measure_streaming(spark, sf_dir: str) -> dict:
    """Drain the synthesized syslog stream and report wall time,
    input rows, and rows/s. Uses the registry's cached stream-source
    dir (deterministic render of the events table), so repeated
    rounds measure the engine, not the one-time text write.

    Same methodology as the batch side of bench.py: one untimed
    warmup drain (streaming whole-stage-codegen + state-store
    first-touch are 2-3x the steady cost and are a per-SESSION tax,
    not a per-drain one), then the MIN of two timed drains as the
    headline, with the cold figure reported alongside. Each drain is
    a fresh query over a fresh memory sink (no state carries over —
    availableNow re-reads every file), so the steady number measures
    the engine, not residue.

    ``output_rows`` systematically undercounts the true number of
    1-hour windows: append mode only emits windows the 1-hour
    watermark has closed, so windows inside the final watermark hour
    are never flushed. That is fine here — the throughput headline
    (``rows_per_sec``) is input-row based; output_rows is reported
    only as a sanity signal, not a window count.

    ``phase_ms`` splits the headline drain by micro-batch phase: each
    ``durationMs`` phase summed over the drain's progress reports."""
    from bigdata_logs_spark.registry import _stream_source_dir
    from bigdata_logs_spark.streaming import (
        read_ssh_stream,
        run_stream_to_memory,
        windowed_event_counts,
    )

    src = _stream_source_dir(spark, sf_dir)
    n_rows = spark.read.text(src).count()

    def drain(sink: str) -> tuple[float, list]:
        parsed = read_ssh_stream(spark, src)
        counts = windowed_event_counts(
            parsed, window="1 hour", watermark="1 hour"
        )
        t0 = time.perf_counter()
        progress = run_stream_to_memory(counts, sink, output_mode="append")
        return time.perf_counter() - t0, progress

    cold, _ = drain("bench_stream_warmup")
    wall, progress = min(
        drain("bench_stream_counts"), drain("bench_stream_counts2"),
        key=lambda r: r[0],
    )
    out_rows = spark.table("bench_stream_counts").count()
    return {
        "input_rows": n_rows,
        "output_rows": out_rows,
        "wall_sec": round(wall, 4),
        "cold_wall_sec": round(cold, 4),
        "rows_per_sec": round(n_rows / wall, 1) if wall > 0 else None,
        "phase_ms": {
            ph: sum(p["durationMs"].get(ph, 0) for p in progress)
            for ph in PHASES
        },
    }


def main() -> None:
    from bigdata_logs_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("bench-streaming", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    print(json.dumps({"metric": "streaming_throughput", **measure_streaming(spark, sf_dir), "sf_dir": sf_dir}))


if __name__ == "__main__":
    main()
