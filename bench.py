"""Benchmark harness: times every registry query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

    python bench.py [query ...]     # no names: the whole registry

Each query gets one untimed warm-up rep, reported as ``cold_sec``,
then the min of 2 timed reps; passes run round-robin over the names.
A rep is timed from construction to the last task of a ``noop`` write,
so every projected column is computed (``.count()`` lets Catalyst
prune them). Tracked caches are released and ``clearCache()`` runs
after every rep, so no rep is served another's cached intermediates.

The last stdout line is one compact JSON line:
  {"metric": ..., "value": headline_total_sec, "unit": "sec",
   "queries": {headline name: sec, ...}, "registry_value": ..., ...}
Per-query records (layer times and stage counters of the min rep) and
the whole-registry total go to the detail file.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from py4j.protocol import Py4JJavaError

from bigdata_logs_spark.caching import release_caches
from bigdata_logs_spark.registry import REGISTRY
from bigdata_logs_spark.session import get_spark

# Headline set: the flagship profile, representative members of each
# operator family (agg, pivot, top-k, point-lookup, joins, text, sim)
# and the LLM-data-pipeline operators; `value` is their total.
HEADLINE = (
    "entity_profile",
    "global_metrics",
    "event_type_counts",
    "events_per_day",
    "suspicious_vs_normal_per_day",
    "entity_event_matrix",
    "top_events_with_others",
    "events_for_entity",
    "ssh_parse_full",
    "pricing_summary",
    "top_revenue_customers",
    "regional_revenue",
    "minhash_signatures",
    "knn_brute_force",
    "embedding_near_dup",
    "contamination_check",
    "tfidf_top_terms",
    "embedding_quantize",
    "bucketed_order_revenue",
    "asof_last_signup_before_error",
    "corpus_curation",
    "repetition_scores",
    "pack_token_budget",
    "incremental_near_dup",
)

TIMED_REPS = 2
LISTENER_WAIT_MS = 10_000

# record key -> StageData accessor, summed over the stages a rep ran
STAGE_FIELDS = {
    "task_ms": "executorRunTime",
    "shuffle_read_bytes": "shuffleReadBytes",
    "shuffle_write_bytes": "shuffleWriteBytes",
    "spill_bytes": "diskBytesSpilled",
}


def _stage_totals(sc, first_job: int, end_job: int) -> dict[str, int]:
    """Job count and ``STAGE_FIELDS`` totals over jobs [first_job,
    end_job), read in process from the SparkContext's status store once
    the listener bus has delivered every event (no UI or HTTP needed)."""
    sc.listenerBus().waitUntilEmpty(LISTENER_WAIT_MS)
    store = sc.statusStore()
    stage_ids: set[int] = set()
    for jid in range(first_job, end_job):
        ids = store.job(jid).stageIds()
        stage_ids.update(ids.apply(i) for i in range(ids.size()))
    out = {"jobs": end_job - first_job, **dict.fromkeys(STAGE_FIELDS, 0)}
    for sid in stage_ids:
        try:
            stage = store.lastStageAttempt(sid)
        except Py4JJavaError:
            # Past spark.ui.retainedStages the store evicts skipped
            # stages first (their completion time is -1), so a stage
            # of the latest rep that it no longer holds was skipped.
            continue
        if stage.status().toString() != "SKIPPED":
            for key, accessor in STAGE_FIELDS.items():
                out[key] += getattr(stage, accessor)()
    return out


def _compile_count(spark) -> int:
    """Generated classes the JVM has compiled so far: a miss in Spark's
    codegen cache compiles one and records its time in this histogram."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def measure(spark, sf_dir: str, name: str) -> dict:
    """One rep of registry query ``name``: construction, planning
    (``executedPlan()``) and a ``noop`` write, then the rep's jobs (of
    them ``construct_jobs`` ran during construction), generated classes
    compiled (``compiles``) and stage counters. Caches are released
    even when the query fails."""
    sc = spark.sparkContext._jsc.sc()
    first_job = sc.dagScheduler().nextJobId()
    first_compile = _compile_count(spark)
    try:
        t0 = time.perf_counter()
        df = REGISTRY[name].fn(spark, sf_dir)
        t1 = time.perf_counter()
        construct_end_job = sc.dagScheduler().nextJobId()
        df._jdf.queryExecution().executedPlan()
        t2 = time.perf_counter()
        df.write.format("noop").mode("overwrite").save()
        t3 = time.perf_counter()
    finally:
        release_caches()
        spark.catalog.clearCache()
    return {
        "sec": round(t3 - t0, 4),
        "construct_ms": round((t1 - t0) * 1e3, 1),
        "plan_ms": round((t2 - t1) * 1e3, 1),
        "exec_ms": round((t3 - t2) * 1e3, 1),
        "construct_jobs": construct_end_job - first_job,
        "compiles": _compile_count(spark) - first_compile,
        **_stage_totals(sc, first_job, sc.dagScheduler().nextJobId()),
    }


def time_queries(spark, sf_dir: str, names) -> dict[str, dict]:
    """Per query, the record of its fastest timed rep plus the warm-up
    rep's wall as ``cold_sec``. Passes run round-robin over ``names``,
    so a burst of host noise hits every query alike."""
    reps: dict[str, list[dict]] = {n: [] for n in names}
    for _ in range(1 + TIMED_REPS):
        for name in names:
            reps[name].append(measure(spark, sf_dir, name))
    return {
        name: {**min(timed, key=lambda r: r["sec"]), "cold_sec": cold["sec"]}
        for name, (cold, *timed) in reps.items()
    }


def _cpu_calibration_sec() -> float:
    """Fixed single-thread CPU burn (md5 over 16 MB, 8 rounds): a
    machine-speed/contention yardstick recorded alongside the query
    times, so run-over-run deltas can be adjudicated as engine
    change vs machine load without a rerun."""
    import hashlib

    buf = bytes(range(256)) * (16 * 1024 * 1024 // 256)
    t0 = time.perf_counter()
    for _ in range(8):
        hashlib.md5(buf).hexdigest()
    return round(time.perf_counter() - t0, 4)


def _total(records: dict[str, dict], key: str, names) -> float:
    return round(sum(records[n][key] for n in names if n in records), 4)


def main(argv: list[str]) -> None:
    unknown = [n for n in argv if n not in REGISTRY]
    if unknown:
        raise SystemExit(f"bench.py: unknown queries {unknown}")
    names = argv or list(REGISTRY)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    load_start = os.getloadavg()
    calibration = _cpu_calibration_sec()
    spark = get_spark("bench", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")

    records = time_queries(spark, sf_dir, names)

    try:
        sf = float(os.path.basename(sf_dir.rstrip("/")).removeprefix("sf"))
    except ValueError:
        sf = None
    totals = {
        "value": _total(records, "sec", HEADLINE),
        "cold_value": _total(records, "cold_sec", HEADLINE),
        "registry_value": _total(records, "sec", names),
        "registry_cold_value": _total(records, "cold_sec", names),
    }
    machine = {
        "cpus": os.cpu_count(),
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        "cpu_calibration_sec": calibration,
    }
    # The driver captures only the tail of stdout (~2000 chars), so the
    # LAST line must be a compact summary guaranteed to fit; per-query
    # records go to the detail file next to this script.
    detail = {
        "metric": "headline_queries_total_time",
        "unit": "sec",
        **totals,
        "sf": sf,
        "queries": records,
        "machine": machine,
    }
    # Default to an UNTRACKED filename so routine runs never overwrite
    # the committed record in BENCH_DETAIL.json. To refresh that record
    # on a verified-idle machine, run:
    #   SPARK_GRAFT_DETAIL_OUT=BENCH_DETAIL.json python bench.py
    detail_name = os.environ.get("SPARK_GRAFT_DETAIL_OUT", "BENCH_DETAIL_run.json")
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), detail_name
    )
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    summary = {
        "metric": "headline_queries_total_time",
        "unit": "sec",
        **totals,
        "queries": {n: records[n]["sec"] for n in HEADLINE if n in records},
        "n_queries": len(records),
        "sf": sf,
        "machine": machine,
        "detail": detail_name,
    }
    line = json.dumps(summary)
    if len(line) > 1900:  # belt-and-braces: never outgrow the capture
        summary.pop("queries", None)
        line = json.dumps(summary)
    print(line)


if __name__ == "__main__":
    main(sys.argv[1:])
