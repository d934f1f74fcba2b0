from bigdata_logs_spark.streaming.ingest import (
    brute_force_detector,
    repeat_offender_pairs,
    event_transitions_state,
    event_drift_counts,
    read_ssh_stream,
    severity_enriched_counts,
    stateful_alerts,
    run_stream_to_memory,
    stream_parsed_to_parquet,
    stream_dedup,
    streaming_latest_per_ip,
    windowed_event_counts,
)

__all__ = [
    "brute_force_detector",
    "repeat_offender_pairs",
    "event_transitions_state",
    "event_drift_counts",
    "read_ssh_stream",
    "severity_enriched_counts",
    "stateful_alerts",
    "run_stream_to_memory",
    "stream_parsed_to_parquet",
    "stream_dedup",
    "streaming_latest_per_ip",
    "windowed_event_counts",
]
