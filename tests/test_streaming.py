"""Streaming semantics: batch-equivalence, micro-batch splits, dedup.

SURVEY.md §5.2(4): feed fixtures in micro-batches through the file
stream; the final stateful result must equal the batch answer over
the same rows.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from bigdata_logs_spark.operators.enrich import with_event_time
from bigdata_logs_spark.operators.parse import parse_ssh_lines
from bigdata_logs_spark.operators.ssh_synth import synthesize_ssh_lines
from bigdata_logs_spark.streaming import (
    event_transitions_state,
    read_ssh_stream,
    run_stream_to_memory,
    severity_enriched_counts,
    stream_dedup,
    windowed_event_counts,
)
from bigdata_logs_spark.streaming.ingest import SEVERITY_DIM


@pytest.fixture(autouse=True)
def no_leaked_queries(spark):
    """Every drain stops its query: none outlives the test."""
    yield
    assert spark.streams.active == []


@pytest.fixture(scope="module")
def stream_dir(spark, events, tmp_path_factory):
    """Synthesized syslog lines written as TWO file batches (the file
    source picks them up as separate input splits)."""
    d = str(tmp_path_factory.mktemp("sshstream"))
    lines = synthesize_ssh_lines(events)
    a, b = lines.randomSplit([0.5, 0.5], seed=7)
    a.coalesce(1).write.mode("append").text(d)
    b.coalesce(1).write.mode("append").text(d)
    return d


def test_stream_equals_batch_windowed_counts(spark, stream_dir):
    streamed = windowed_event_counts(
        read_ssh_stream(spark, stream_dir), window="1 hour", watermark=None
    )
    run_stream_to_memory(streamed, "t_hourly", output_mode="complete")
    got = {
        (str(r["window"]["start"]), r["event"]): r["n"]
        for r in spark.table("t_hourly").collect()
    }

    batch = with_event_time(parse_ssh_lines(spark.read.text(stream_dir)))
    want = {
        (str(r["wstart"]), r["event"]): r["n"]
        for r in batch.groupBy(
            F.date_trunc("hour", "ts").alias("wstart"), "event"
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want


def test_stream_static_severity_join_equals_batch(spark, stream_dir):
    streamed = severity_enriched_counts(
        read_ssh_stream(spark, stream_dir), window="1 hour", watermark=None
    )
    run_stream_to_memory(streamed, "t_sev", output_mode="complete")
    got = {
        (str(r["window"]["start"]), r["severity"]): r["n"]
        for r in spark.table("t_sev").collect()
    }

    sev_map = dict(SEVERITY_DIM)
    batch = with_event_time(parse_ssh_lines(spark.read.text(stream_dir)))
    sev = F.col("event")
    expr = F.lit("unclassified")
    for tag, s in SEVERITY_DIM:
        expr = F.when(sev == tag, F.lit(s)).otherwise(expr)
    want = {
        (str(r["wstart"]), r["severity"]): r["n"]
        for r in batch.select(
            F.date_trunc("hour", "ts").alias("wstart"), expr.alias("severity")
        )
        .groupBy("wstart", "severity")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert got == want
    assert set(sev_map.values()) | {"unclassified"} >= {
        k[1] for k in got
    }


def _transitions(spark, state_dir) -> dict:
    """(ip, prev_event, event) -> n from ST-9's drained state."""
    return {
        (r["ip"], r["prev_event"], r["event"]): r["n"]
        for r in spark.read.parquet(state_dir).where(F.col("n").isNotNull()).collect()
    }


def _lag_oracle(spark, src_dir) -> dict:
    """The same counts from one batch lag() window over the feed."""
    from pyspark.sql import Window

    batch = with_event_time(parse_ssh_lines(spark.read.text(src_dir)))
    w = Window.partitionBy("ip").orderBy("ts", "pid", "message")
    return {
        (r["ip"], r["prev_event"], r["event"]): r["n"]
        for r in batch.filter(F.col("ip").isNotNull())
        .withColumn("prev_event", F.lag("event").over(w))
        .filter(F.col("prev_event").isNotNull())
        .groupBy("ip", "prev_event", "event")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }


def test_event_transitions_equal_batch_lag_window(spark, stream_dir, tmp_path):
    state = str(tmp_path / "trans")
    event_transitions_state(read_ssh_stream(spark, stream_dir), state)
    assert _transitions(spark, state) == _lag_oracle(spark, stream_dir)


def test_event_transitions_bridge_ignores_file_arrival_order(spark, tmp_path):
    """One IP's events split over two files, and the file holding the
    LATER timestamps arrives first (older mtime, one file per
    trigger). The bridge transition joins the earlier half's last
    event to the later half's first, as the batch lag() window does;
    chaining state in arrival order would count disconnect ->
    invalid_user instead of failed_password -> other (the accepted
    login)."""
    d = tmp_path / "reversed_src"
    d.mkdir()
    ip = "192.0.2.7"
    (d / "late.log").write_text(
        f"Jan 15 10:00:03 srv1 sshd[9]: Accepted password for u1 from {ip} port 22 ssh2\n"
        f"Jan 15 10:00:04 srv1 sshd[9]: Received disconnect from {ip}: 11: Bye Bye [preauth]\n"
    )
    (d / "early.log").write_text(
        f"Jan 15 10:00:01 srv1 sshd[9]: Invalid user guest1 from {ip}\n"
        f"Jan 15 10:00:02 srv1 sshd[9]: Failed password for root from {ip} port 22 ssh2\n"
    )
    os.utime(d / "late.log", (1_700_000_000, 1_700_000_000))
    os.utime(d / "early.log", (1_700_000_001, 1_700_000_001))

    state = str(tmp_path / "trans")
    progress = event_transitions_state(
        read_ssh_stream(spark, str(d), max_files_per_trigger=1), state
    )
    assert sum(p["numInputRows"] > 0 for p in progress) == 2
    want = _lag_oracle(spark, str(d))
    assert len(want) == 3
    assert _transitions(spark, state) == want


def test_stream_dedup_removes_redelivered_lines(spark, stream_dir, tmp_path):
    # Duplicate the whole input: same lines delivered twice.
    dup_dir = str(tmp_path / "dup")
    raw = spark.read.text(stream_dir)
    raw.coalesce(1).write.mode("append").text(dup_dir)
    raw.coalesce(1).write.mode("append").text(dup_dir)

    deduped = stream_dedup(read_ssh_stream(spark, dup_dir), watermark="10 hours")
    run_stream_to_memory(deduped, "t_dedup", output_mode="append")
    got = spark.table("t_dedup").count()
    want = (
        parse_ssh_lines(raw)
        .select("month", "day", "time", "host", "pid", "message")
        .distinct()
        .count()
    )
    assert got == want


def test_detector_threshold_monotone(spark, stream_dir):
    from bigdata_logs_spark.streaming import brute_force_detector

    parsed = read_ssh_stream(spark, stream_dir)
    hits = brute_force_detector(parsed, threshold=2, watermark=None)
    run_stream_to_memory(hits, "t_det2", output_mode="complete")
    n2 = spark.table("t_det2").count()
    hits3 = brute_force_detector(parsed, threshold=3, watermark=None)
    run_stream_to_memory(hits3, "t_det3", output_mode="complete")
    n3 = spark.table("t_det3").count()
    assert n3 <= n2
    assert spark.table("t_det2").filter(F.col("failed_count") < 2).count() == 0


def test_stateful_alerts_edge_triggered_across_batches(spark, stream_dir):
    """applyInPandasWithState semantics: at most ONE alert per IP no
    matter how many micro-batches its failed logins span, fired in
    the batch where the cumulative count crosses the threshold, and
    never for IPs that stay below it."""
    from bigdata_logs_spark.streaming import stateful_alerts

    # maxFilesPerTrigger=1 (a SOURCE option) forces one micro-batch
    # per source file, so per-IP counts genuinely accumulate across
    # batches in state
    parsed_stream = read_ssh_stream(spark, stream_dir, max_files_per_trigger=1)
    alerts = stateful_alerts(parsed_stream, threshold=5)
    run_stream_to_memory(alerts, "t_alerts", output_mode="append")
    got = spark.table("t_alerts").collect()

    batch = parse_ssh_lines(spark.read.text(stream_dir))
    failed_totals = {
        r["ip"]: r["n"]
        for r in batch.filter(
            F.col("event").isin("failed_password", "invalid_user", "auth_failure")
            & F.col("ip").isNotNull()
        )
        .groupBy("ip")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    alert_ips = [r["ip"] for r in got]
    assert len(alert_ips) == len(set(alert_ips)), "an IP alerted twice"
    expected = {ip for ip, n in failed_totals.items() if n >= 5}
    assert set(alert_ips) == expected
    # the reported count is the cumulative count at the crossing
    # batch: >= threshold, <= the stream-wide total
    for r in got:
        assert 5 <= r["failed_count"] <= failed_totals[r["ip"]]


def test_append_mode_watermark_contract(spark, events, tmp_path):
    """Watermark + append-mode contract (SURVEY §5.2(4)), asserting
    what Spark actually GUARANTEES: (a) every (window, event) emits
    at most once; (b) no window still open relative to the final
    watermark is emitted; (c) every emitted count equals the batch
    answer over all rows merged before that window's eviction.

    (Dropping rows later than the watermark is explicitly best-effort
    in Spark — a late row that arrives before its window is evicted
    is merged, which is what happens here — so the test pins the
    guaranteed side of the contract, not the discretionary drop.)"""
    import time as _time

    new_day = [
        r["line"]
        for r in synthesize_ssh_lines(
            events.filter(F.to_date("ts") == "2024-01-06")
        ).select(F.col("value").alias("line")).collect()
    ]
    late_day = [
        r["line"]
        for r in synthesize_ssh_lines(
            events.filter(F.to_date("ts") == "2024-01-01")
        ).select(F.col("value").alias("line")).collect()
    ]
    assert new_day and late_day
    d = tmp_path / "late_src"
    d.mkdir()
    # oldest-modTime first: the on-time day is batch 0, so the late
    # day arrives with the watermark already at Jan 6
    (d / "f1_new.log").write_text("\n".join(new_day) + "\n")
    _time.sleep(2.5)
    (d / "f2_late.log").write_text("\n".join(late_day) + "\n")

    counts = windowed_event_counts(
        read_ssh_stream(spark, str(d), max_files_per_trigger=1),
        window="1 hour",
        watermark="1 hour",
    )
    run_stream_to_memory(counts, "t_late", output_mode="append")
    rows = spark.table("t_late").collect()
    assert rows

    # (a) exactly-once emission per (window, event)
    keys = [(str(r["window"]["start"]), r["event"]) for r in rows]
    assert len(keys) == len(set(keys))

    # (b) nothing newer than the final watermark (max on-time event
    # minus the 1h delay) was finalized
    batch = with_event_time(parse_ssh_lines(spark.read.text(str(d))))
    max_ts = batch.filter(F.to_date("ts") == "2024-01-06").agg(
        F.max("ts")
    ).first()[0]
    import datetime

    horizon = max_ts - datetime.timedelta(hours=1)
    assert all(r["window"]["end"] <= horizon for r in rows)

    # (c) emitted counts equal the batch answer (late rows merged
    # before eviction in this schedule)
    want = {
        (str(r["wstart"]), r["event"]): r["n"]
        for r in batch.groupBy(F.date_trunc("hour", "ts").alias("wstart"), "event")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for r in rows:
        assert want[(str(r["window"]["start"]), r["event"])] == r["n"]


def test_event_transitions_multi_batch_reaggregates(spark, events, tmp_path_factory):
    """A two-file feed split by time, one file per trigger: the state
    folds both batches' segment summaries, and its count rows equal
    the global batch lag() oracle."""
    d = str(tmp_path_factory.mktemp("sshstream_ordered"))
    bound = events.agg(F.expr("percentile_approx(ts, 0.5)")).first()[0]
    synthesize_ssh_lines(events.filter(F.col("ts") <= F.lit(bound))).coalesce(
        1
    ).write.mode("append").text(d)
    synthesize_ssh_lines(events.filter(F.col("ts") > F.lit(bound))).coalesce(
        1
    ).write.mode("append").text(d)

    state = str(tmp_path_factory.mktemp("trans_mb"))
    progress = event_transitions_state(
        read_ssh_stream(spark, d, max_files_per_trigger=1), state
    )
    # proof this actually ran multi-batch
    assert sum(p["numInputRows"] > 0 for p in progress) >= 2
    assert _transitions(spark, state) == _lag_oracle(spark, d)


def test_repeat_offender_join_accumulates_state_across_batches(
    spark, events, tmp_path_factory
):
    """Stream-stream interval self-join: pairs whose two sides arrive
    in DIFFERENT micro-batches must still be found (the fail side is
    kept in join state until the watermark passes fail_ts + window).
    Time-ordered two-file feed, one file per trigger."""
    from pyspark.sql import functions as F

    from bigdata_logs_spark.streaming import repeat_offender_pairs

    d = str(tmp_path_factory.mktemp("sshstream_ro"))
    bound = events.agg(F.expr("percentile_approx(ts, 0.5)")).first()[0]
    synthesize_ssh_lines(events.filter(F.col("ts") <= F.lit(bound))).coalesce(
        1
    ).write.mode("append").text(d)
    synthesize_ssh_lines(events.filter(F.col("ts") > F.lit(bound))).coalesce(
        1
    ).write.mode("append").text(d)

    streamed = repeat_offender_pairs(
        read_ssh_stream(spark, d, max_files_per_trigger=1)
    )
    run_stream_to_memory(streamed, "t_ro_mb", output_mode="append")
    got = {
        (r["ip"], str(r["first_ts"]), str(r["repeat_ts"]))
        for r in spark.table("t_ro_mb").collect()
    }

    from bigdata_logs_spark.streaming.ingest import FAILED_EVENTS

    batch = with_event_time(parse_ssh_lines(spark.read.text(d)))
    fails = batch.filter(
        F.col("event").isin(*FAILED_EVENTS) & F.col("ip").isNotNull()
    ).select("ip", "ts")
    want = {
        (r["ip"], str(r["first_ts"]), str(r["repeat_ts"]))
        for r in fails.alias("f")
        .join(
            fails.alias("r"),
            F.expr(
                "f.ip = r.ip AND r.ts > f.ts "
                "AND r.ts <= f.ts + interval 24 hours"
            ),
        )
        .select(
            F.col("f.ip").alias("ip"),
            F.col("f.ts").alias("first_ts"),
            F.col("r.ts").alias("repeat_ts"),
        )
        .collect()
    }
    assert want, "fixture must produce at least one pair"
    # cross-batch pairs exist in the oracle...
    assert got == want


def test_parquet_sink_exactly_once_and_orphan_files_invisible(
    spark, stream_dir, tmp_path
):
    """ST-11 contract, both halves:
    1. restart idempotence — draining the same source against the
       same checkpoint twice adds nothing (batch IDs are recorded);
    2. crash atomicity — a parquet file in the sink dir that no
       committed batch wrote (what a batch dying mid-write leaves
       behind) is invisible to readers, because reads go through the
       sink's _spark_metadata log, not a directory listing."""
    from bigdata_logs_spark.streaming import stream_parsed_to_parquet

    store = str(tmp_path / "bronze")
    ckpt = str(tmp_path / "bronze_ckpt")

    def drain():
        parsed = read_ssh_stream(spark, stream_dir).select("ip", "event")
        stream_parsed_to_parquet(parsed, store, ckpt)

    drain()
    n_batch = parse_ssh_lines(spark.read.text(stream_dir)).count()
    assert spark.read.parquet(store).count() == n_batch

    drain()  # restart over the same checkpoint: no new input, no rows
    assert spark.read.parquet(store).count() == n_batch

    # forge an uncommitted (orphan) output file — readers must not see it
    orphan = (
        parse_ssh_lines(spark.read.text(stream_dir))
        .select("ip", "event")
        .limit(17)
    )
    orphan.coalesce(1).write.mode("append").parquet(str(tmp_path / "forge"))
    import glob
    import shutil

    (src_file,) = glob.glob(str(tmp_path / "forge" / "*.parquet"))
    shutil.copy(src_file, os.path.join(store, "part-99999-orphan.parquet"))
    assert spark.read.parquet(store).count() == n_batch


def test_streaming_kmv_state_batch_split_invariant(spark, sf_dir, tmp_path):
    """ST-13: the KMV state after a drain is bit-identical whether the
    feed arrives as one micro-batch or one file per micro-batch —
    min-k union is associative/commutative/idempotent. Also pins the
    bounded-state contract (<= k rows per group)."""
    import os

    from bigdata_logs_spark.operators.ssh_synth import synthesize_ssh_lines
    from bigdata_logs_spark.sources import load_table
    from bigdata_logs_spark.streaming.ingest import (
        read_ssh_stream,
        streaming_kmv_state,
    )

    src = str(tmp_path / "src")
    synthesize_ssh_lines(load_table(spark, sf_dir, "events")).repartition(
        4
    ).write.mode("overwrite").text(src)

    states = {}
    for label, mfpt in (("one_batch", None), ("per_file", 1)):
        state = str(tmp_path / f"state_{label}")
        progress = streaming_kmv_state(
            read_ssh_stream(spark, src, max_files_per_trigger=mfpt), state, k=16
        )
        if mfpt:  # the split leg really merged state across batches
            assert sum(p["numInputRows"] > 0 for p in progress) >= 2
        df = spark.read.parquet(state)
        per_group = df.groupBy("event").count().collect()
        assert all(r["count"] <= 16 for r in per_group)
        states[label] = sorted(map(str, df.collect()))
        # drain cleanup leaves only the state dir behind
        assert not os.path.exists(state + "__ckpt")
    assert states["one_batch"] == states["per_file"]


def test_streaming_lsh_dedup_is_batch_split_invariant(spark, sf_dir, tmp_path):
    """ST-14's whole oracle claim: the emitted pair set must be
    bit-identical whether the feed drains as ONE batch or as four —
    and must equal the uncapped batch LSH pipeline's verified pairs."""
    from pyspark.sql import functions as F

    from bigdata_logs_spark.sources import load_table
    from bigdata_logs_spark.streaming.ingest import streaming_lsh_dedup_state

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    src = str(tmp_path / "docsrc")
    docs.repartition(4, "doc_id").write.mode("overwrite").json(src)

    def drain(max_files, state):
        stream = (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", max_files)
            .json(src)
        )
        return sorted(
            map(
                str,
                streaming_lsh_dedup_state(
                    stream, str(tmp_path / state)
                ).collect(),
            )
        )

    one_batch = drain(4, "state_one")
    four_batches = drain(1, "state_four")
    assert one_batch == four_batches
    assert len(one_batch) > 0


def test_streaming_lsh_occupancy_cap_gates_boilerplate(spark, tmp_path):
    """ST-14 capped mode: buckets whose state occupancy exceeds the cap
    generate no candidates — on a boilerplate-heavy feed (ten identical
    docs share every band bucket) the capped drain emits a strict
    subset of the uncapped pair set, while a cap above the maximum
    occupancy reproduces it exactly; the occupancy report quantifies
    precisely the exposure the cap removes."""
    from bigdata_logs_spark.streaming.ingest import (
        streaming_lsh_dedup_state,
        streaming_lsh_state_occupancy,
    )

    rows = [
        (i, "the same boilerplate line repeated everywhere")
        for i in range(10)
    ]
    rows += [
        (100, "another unique document text here"),
        (101, "another unique document text here"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    src = str(tmp_path / "docsrc")
    docs.repartition(3, "doc_id").write.mode("overwrite").json(src)

    def stream():
        return (
            spark.readStream.schema("doc_id bigint, text string")
            .option("maxFilesPerTrigger", 1)
            .json(src)
        )

    def drain(state, cap):
        return sorted(
            map(
                str,
                streaming_lsh_dedup_state(
                    stream(), str(tmp_path / state), occupancy_cap=cap
                ).collect(),
            )
        )

    uncapped = drain("state_uncapped", None)
    # 10 identical docs -> C(10,2)=45 pairs, plus the (100, 101) pair
    assert len(uncapped) == 46
    # a cap above the max occupancy is a no-op: identical emission
    assert drain("state_cap_hi", 64) == uncapped
    # a cap below the boilerplate occupancy silences that bucket for
    # every batch after it crosses the cap: strictly fewer pairs, all
    # of them drawn from the uncapped set, and the small (occupancy-2)
    # bucket's pair survives
    capped = drain("state_cap_lo", 4)
    assert set(capped) < set(uncapped)
    assert any("doc_a=100" in r for r in capped)

    # the report states the exposure exactly: per band, one 10-member
    # bucket (45 pairs) and one 2-member bucket (1 pair), 8 bands
    report = streaming_lsh_state_occupancy(
        stream(), str(tmp_path / "state_report"), cap=4
    ).collect()[0]
    assert report.max_occupancy == 10
    assert report.n_over_cap == 8
    assert report.n_pairs_uncapped == 8 * (45 + 1)
    assert report.n_pairs_capped == 8 * 1


def test_streaming_lsh_occupancy_empty_feed_reports_not_crashes(
    spark, tmp_path
):
    """An empty source (no files yet) must yield the deterministic
    empty-state report row, not a missing-path AnalysisException —
    monitoring gauges run before the feed does."""
    from bigdata_logs_spark.streaming.ingest import (
        streaming_lsh_state_occupancy,
    )

    src = tmp_path / "empty_src"
    src.mkdir()
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .json(str(src))
    )
    row = streaming_lsh_state_occupancy(
        stream, str(tmp_path / "state_empty")
    ).collect()[0]
    assert row.n_buckets == 0
    assert row.max_occupancy is None


def test_empty_files_mid_backlog_drain_every_row(spark, events, tmp_path):
    """An empty file is a zero-row micro-batch that still advances the
    source offset; it must not end the drain. One file per trigger,
    three data files with six empty files between each pair."""
    lines = [
        r["value"] for r in synthesize_ssh_lines(events).select("value").collect()
    ]
    d = tmp_path / "gappy_src"
    d.mkdir()
    names = []
    for i in range(3):
        names.append(f"{len(names):02d}_data.log")
        (d / names[-1]).write_text("\n".join(lines[i::3]) + "\n")
        if i < 2:
            for _ in range(6):
                names.append(f"{len(names):02d}_empty.log")
                (d / names[-1]).write_text("")
    # the file source orders its backlog by modification time
    for i, name in enumerate(names):
        os.utime(d / name, (1_700_000_000 + i, 1_700_000_000 + i))

    parsed = read_ssh_stream(spark, str(d), max_files_per_trigger=1)
    progress = run_stream_to_memory(
        parsed.select("event"), "t_gappy", output_mode="append"
    )
    raw = spark.read.text(str(d))
    assert spark.table("t_gappy").count() == parse_ssh_lines(raw).count()
    assert sum(p["numInputRows"] for p in progress) == raw.count()


def test_drain_past_deadline_raises_and_stops_query(spark, tmp_path, monkeypatch):
    """A drain that cannot finish by the deadline raises instead of
    returning a partial sink, and leaves no active query behind."""
    import time

    from bigdata_logs_spark.streaming import ingest

    src = tmp_path / "slow_src"
    src.mkdir()
    (src / "one.log").write_text("x\n")

    @F.udf("string")
    def slow(v):
        time.sleep(3)
        return v

    monkeypatch.setattr(ingest, "DRAIN_DEADLINE_SEC", 0.5)
    stream = spark.readStream.text(str(src)).select(slow("value").alias("v"))
    with pytest.raises(TimeoutError):
        run_stream_to_memory(stream, "t_slow", output_mode="append")
    assert spark.streams.active == []


def test_only_drain_waits_on_streaming_queries():
    """``ingest._drain`` is the one place that waits on a streaming
    query, so every drain shares its stop rule, deadline and cleanup."""
    import ast
    import glob
    import re

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ingest_py = os.path.join(root, "bigdata_logs_spark", "streaming", "ingest.py")
    with open(ingest_py) as f:
        tree = ast.parse(f.read())
    (drain,) = [
        n for n in tree.body if isinstance(n, ast.FunctionDef) and n.name == "_drain"
    ]
    allowed = range(drain.lineno, drain.end_lineno + 1)
    wait = re.compile(r"awaitTermination\(")
    hits = []
    for pattern in (
        "bigdata_logs_spark/**/*.py",
        "tests/**/*.py",
        "tools/**/*.py",
        "bench*.py",
    ):
        for path in glob.glob(os.path.join(root, pattern), recursive=True):
            with open(path) as f:
                for i, line in enumerate(f, 1):
                    if wait.search(line) and not (path == ingest_py and i in allowed):
                        hits.append(f"{os.path.relpath(path, root)}:{i}")
    assert hits == []
