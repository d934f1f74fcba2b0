"""bench.py's timing loop: every rep forces the query through the
``noop`` sink, records its layer times and stage counters, and leaves
nothing cached for the next rep."""

from __future__ import annotations

import bench
from bigdata_logs_spark.registry import REGISTRY

RECORD_FIELDS = {
    "sec",
    "cold_sec",
    "construct_ms",
    "plan_ms",
    "exec_ms",
    "jobs",
    "construct_jobs",
    "task_ms",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
}


def test_headline_names_are_registry_queries():
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE)) == 24
    assert set(bench.HEADLINE) <= set(REGISTRY)


def test_every_rep_runs_jobs_and_releases_caches(spark, sf_dir, monkeypatch):
    names = ["ssh_parse_full", "streaming_hourly_counts"]
    reps: dict[str, list[dict]] = {n: [] for n in names}
    measure = bench.measure

    def checked(spark, sf_dir, name):
        rec = measure(spark, sf_dir, name)
        storage = spark.sparkContext._jsc.sc().getRDDStorageInfo()
        assert len(storage) == 0, f"{name} left cached RDDs"
        reps[name].append(rec)
        return rec

    monkeypatch.setattr(bench, "measure", checked)
    records = bench.time_queries(spark, sf_dir, names)

    assert set(records) == set(names)
    for name in names:
        assert set(records[name]) == RECORD_FIELDS, name
        assert len(reps[name]) == 1 + bench.TIMED_REPS
        for rec in reps[name]:
            assert rec["jobs"] >= 1 and rec["task_ms"] > 0, (name, rec)
            assert 0 <= rec["construct_jobs"] <= rec["jobs"], (name, rec)
        assert records[name]["sec"] == min(r["sec"] for r in reps[name][1:])
        assert records[name]["cold_sec"] == reps[name][0]["sec"]
    # Once the warm-up rep has inferred the events schema, the batch
    # query's construction runs no job; the stream's drain always does.
    timed = reps["ssh_parse_full"][1:]
    assert [r["construct_jobs"] for r in timed] == [0] * bench.TIMED_REPS
    assert all(r["construct_jobs"] >= 1 for r in reps["streaming_hourly_counts"])
