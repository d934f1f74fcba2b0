"""Structured Streaming ingestion (SURVEY.md §2.9).

The reference fakes streaming: Streamlit re-runs a full MongoDB
collection scan per interaction (``src/stats_dashboard.py:13-18,33``).
Here the ingestion path is a real incremental pipeline:

    readStream.text(dir) -> parse_ssh_lines -> with_event_time
        -> watermarked windowed aggregations -> sink

The parse/enrich transforms are the SAME functions the batch path
uses — DataFrame transforms are source-agnostic, so batch/stream
parity is by construction, and the batch-equivalence tests assert it.

Semantics upgrade over the reference (documented contract):
- late rows beyond the watermark are dropped (the reference's
  full-recompute model has no lateness concept);
- re-delivered input lines can be deduplicated within the watermark
  (``stream_dedup``) — the reference blindly appends duplicates on
  re-run (``src/insert_mongo.py:15``).

State stores: windowed counts and dedup state live in the state
store (RocksDB on a real cluster); watermarks bound state size, which
is what makes these operators viable on an unbounded 100 TB/day feed.
"""

from __future__ import annotations

import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from bigdata_logs_spark.operators.enrich import with_event_time
from bigdata_logs_spark.operators.parse import parse_ssh_lines

# The reference's suspicious set (src/stats_dashboard.py:82).
from bigdata_logs_spark.operators.parse import FAILED_AUTH_EVENTS as FAILED_EVENTS


def read_ssh_stream(
    spark: SparkSession, path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-tail source: new files in ``path`` picked up per
    micro-batch (replaces the reference's one-shot readlines).

    ``max_files_per_trigger`` bounds each micro-batch — a SOURCE
    option (it has no effect on the sink side), used to exercise
    genuine multi-batch state accumulation in tests."""
    reader = spark.readStream.format("text")
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    raw = reader.load(path)
    return with_event_time(parse_ssh_lines(raw))


def windowed_event_counts(
    parsed: DataFrame, window: str = "1 hour", watermark: str | None = "1 hour"
) -> DataFrame:
    """Event-time tumbling window counts per event tag (the streaming
    form of the reference's per-hour/per-day charts)."""
    df = parsed
    if watermark:
        df = df.withWatermark("ts", watermark)
    return df.groupBy(F.window("ts", window), F.col("event")).agg(
        F.count(F.lit(1)).alias("n")
    )


def brute_force_detector(
    parsed: DataFrame,
    window: str = "10 minutes",
    slide: str = "1 minute",
    threshold: int = 5,
    watermark: str | None = "30 minutes",
) -> DataFrame:
    """Sliding-window brute-force detector: IPs whose failed-login
    count within any window reaches the threshold. The reference can
    only compute all-time per-IP totals (src/stats_dashboard.py:109);
    this is the real-time generalization."""
    df = parsed.filter(F.col("event").isin(*FAILED_EVENTS))
    if watermark:
        df = df.withWatermark("ts", watermark)
    return (
        df.groupBy(F.window("ts", window, slide), F.col("ip"))
        .agg(F.count(F.lit(1)).alias("failed_count"))
        .filter(F.col("failed_count") >= threshold)
    )


def stream_dedup(parsed: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Exactly-once-per-line within the watermark horizon: fixes the
    reference's duplicate-on-rerun bug with bounded state."""
    keyed = parsed.withColumn(
        "line_key",
        F.sha2(
            F.concat_ws(
                "|", "month", "day", "time", "host", F.col("pid").cast("string"), "message"
            ),
            256,
        ),
    )
    return keyed.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["line_key"]
    )


def event_drift_counts(
    parsed: DataFrame, split_date: str = "2024-01-16"
) -> DataFrame:
    """ST-12: streaming leg of the chi-square drift monitor (AD-4's
    twin) — a complete-mode contingency aggregation (event, n_first,
    n_second) maintained incrementally by the streaming engine. The
    k-row state is the ONLY state held (no window buffering); the
    chi-square tail runs as a batch expression over the drained sink
    via ``operators.anomaly.chi2_drift_report``.

    Same date-string split as the batch op: TIMESTAMP_NTZ-safe,
    session-timezone independent.
    """
    is_b = F.date_format("ts", "yyyy-MM-dd") >= F.lit(split_date)
    return parsed.filter(F.col("ts").isNotNull()).groupBy("event").agg(
        F.sum(F.when(~is_b, 1).otherwise(0)).alias("n_first"),
        F.sum(F.when(is_b, 1).otherwise(0)).alias("n_second"),
    )


# One deadline for every drain in the package: a drain still running
# at this point raises instead of handing back a partial sink.
DRAIN_DEADLINE_SEC = 180
_POLL_SEC = 0.1


def _drain(q: StreamingQuery) -> list:
    """Wait for an availableNow query to consume its backlog, stop it,
    and return its per-trigger progress reports (``q.recentProgress``).
    This is the only place the package waits on a streaming query.

    The drain ends when the query terminates by itself, or once the
    last completed batch advanced no source offset (``startOffset ==
    endOffset`` for every source). Under availableNow such a no-data
    batch runs only after the backlog is read; a query holding
    processing-time timeouts (``stateful_alerts``) keeps scheduling
    them forever, and our stateful operators emit on data, never on
    timeout, so stopping there loses nothing. Row counts are no stop
    signal: an empty file in the backlog is a zero-row batch that
    still advances the offset.

    Raises ``TimeoutError`` at ``DRAIN_DEADLINE_SEC``. The query is
    stopped on every path."""
    deadline = time.monotonic() + DRAIN_DEADLINE_SEC
    try:
        while not q.awaitTermination(_POLL_SEC):
            p = q.lastProgress
            if p is not None and all(
                s["startOffset"] == s["endOffset"] for s in p["sources"]
            ):
                break
            if time.monotonic() >= deadline:
                raise TimeoutError(
                    f"streaming query {q.name or q.id} did not drain "
                    f"within {DRAIN_DEADLINE_SEC}s"
                )
    finally:
        q.stop()
    return q.recentProgress


def run_stream_to_memory(
    df: DataFrame, name: str, output_mode: str = "complete"
) -> list:
    """Drain a streaming query into a memory sink (availableNow); the
    result is readable as ``spark.table(name)``. Returns the drain's
    progress reports."""
    return _drain(
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )


def stream_parsed_to_parquet(
    parsed: DataFrame, store_dir: str, checkpoint_dir: str
) -> list:
    """Exactly-once streaming ETL into a parquet table (ST-11): the
    raw-log stream lands as query-ready columnar files.

    Exactly-once comes from two Spark mechanisms working together —
    no custom dedup logic: the CHECKPOINT records which source files
    each micro-batch consumed (a re-run never re-reads them), and the
    file sink's METADATA LOG records which output files each batch
    committed (a reader ignores orphans from a batch that died
    mid-write). Draining the same source against the same checkpoint
    twice is therefore a no-op second time — the idempotence contract
    a production ingest job restarts on, attested by the registry
    query (double drain) and the kill-resume test.

    At 100 TB/day: append-only parquet with this contract is the
    bronze layer; downstream compaction (S-10) and CDC upserts (S-9)
    take it from there.
    """
    return _drain(
        parsed.writeStream.format("parquet")
        .option("path", store_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


def stateful_alerts(
    parsed: DataFrame, threshold: int = 5, timeout_minutes: int = 30
) -> DataFrame:
    """Custom stateful operator via ``applyInPandasWithState``: a
    per-IP running failed-login counter that emits ONE alert row the
    moment an IP's cumulative count crosses ``threshold``, with state
    expiring after ``timeout_minutes`` of processing-time inactivity.

    This is the semantics the built-in windows can't express — the
    count is cumulative across the whole stream (not per window) and
    the emission is edge-triggered (exactly one row at the crossing,
    nothing before or after). The reference can only recompute totals
    per poll (src/stats_dashboard.py:109-111); its dashboard cannot
    say WHEN an IP went over.

    State per key is two ints (count, fired) — bounded, and freed by
    the timeout; the grouping key shuffles once per micro-batch.
    """
    import pandas as pd  # Arrow-batched per group
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql.types import (
        IntegerType,
        StringType,
        StructField,
        StructType,
        TimestampType,
    )

    out_schema = StructType(
        [
            StructField("ip", StringType()),
            StructField("failed_count", IntegerType()),
            StructField("alert_ts", TimestampType()),
        ]
    )
    state_schema = StructType(
        [StructField("count", IntegerType()), StructField("fired", IntegerType())]
    )
    failed = parsed.filter(
        F.col("event").isin("failed_password", "invalid_user", "auth_failure")
        & F.col("ip").isNotNull()
    ).select("ip", "ts")

    def update(key, pdf_iter, state: GroupState):
        (ip,) = key
        if state.hasTimedOut:
            state.remove()
            return
        count, fired = state.get if state.exists else (0, 0)
        max_ts = None
        for pdf in pdf_iter:
            count += len(pdf)
            ts_max = pd.to_datetime(pdf["ts"]).max()
            max_ts = ts_max if max_ts is None else max(max_ts, ts_max)
        rows = []
        if count >= threshold and not fired:
            fired = 1
            rows.append({"ip": ip, "failed_count": count, "alert_ts": max_ts})
        state.update((count, fired))
        state.setTimeoutDuration(timeout_minutes * 60 * 1000)
        if rows:
            yield pd.DataFrame(rows)

    return failed.groupBy("ip").applyInPandasWithState(
        update,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
    )


# Event-tag -> severity lookup (the static dimension for the
# stream-static enrichment). 'other' is deliberately absent so the
# left-join miss path ('unclassified') is exercised.
SEVERITY_DIM: tuple[tuple[str, str], ...] = (
    ("too_many_failures", "critical"),
    ("ignoring_max_retries", "critical"),
    ("invalid_user", "high"),
    ("failed_password", "high"),
    ("auth_failure", "high"),
    ("failed_none", "high"),
    ("connection_closed", "info"),
    ("disconnect", "info"),
    ("no_identification", "info"),
    ("reverse_mapping_check", "info"),
)


def severity_enriched_counts(
    parsed: DataFrame,
    window: str = "1 hour",
    watermark: str | None = None,
) -> DataFrame:
    """Stream-static join enrichment (ST-7): the parsed event stream
    joins a small static dimension (event tag -> severity) and
    aggregates per (window, severity).

    The static side is re-broadcast to each micro-batch by the engine —
    no state, no stream-stream complexity — which is the standard
    shape for enriching an unbounded feed with reference data (user
    dims, geo tables, threat lists). Tags outside the dim fall
    through as 'unclassified' via the left join, so dim drift never
    drops events."""
    spark = parsed.sparkSession
    dim = spark.createDataFrame(
        list(SEVERITY_DIM), "event string, severity string"
    )
    df = parsed
    if watermark:
        df = df.withWatermark("ts", watermark)
    enriched = df.join(F.broadcast(dim), "event", "left").withColumn(
        "severity", F.coalesce(F.col("severity"), F.lit("unclassified"))
    )
    return enriched.groupBy(F.window("ts", window), F.col("severity")).agg(
        F.count(F.lit(1)).alias("n")
    )


def streaming_latest_per_ip(parsed: DataFrame) -> DataFrame:
    """Streaming CDC keep-latest view (ST-8): engine-maintained
    latest event per IP, the streaming twin of the batch
    ``upsert_keep_latest`` store merge. One ``max`` over a totally
    ordered version struct per key — state is one struct per IP,
    updated in place each micro-batch; no windows, no sink-side merge
    job. (ts, pid, message) is a total order on distinct lines, so
    the result is deterministic and batch-equivalent regardless of
    how the input splits into micro-batches."""
    version = F.struct(
        F.col("ts"), F.col("pid"), F.col("message"), F.col("event")
    )
    return (
        parsed.filter(F.col("ip").isNotNull())
        .groupBy("ip")
        .agg(F.max(version).alias("v"))
        .select(
            "ip",
            F.col("v.ts").alias("last_ts"),
            F.col("v.pid").alias("last_pid"),
            F.col("v.event").alias("last_event"),
        )
    )


def event_transitions_state(parsed: DataFrame, state_dir: str) -> list:
    """Per-IP event-transition counts (ST-9): the Markov-chain
    statistic behind attack-pattern profiling (e.g. invalid_user ->
    failed_password runs). For each IP, order its events by the total
    (ts, pid, message) key and count consecutive (prev_event -> event)
    transitions: the batch lag() window, folded over micro-batches by
    ``_fold_into_state`` into a parquet state table at ``state_dir``.

    The state summarises each IP's part of the feed: count rows
    (ip, prev_event, event, n) and one boundary row (ip, first, last),
    the min and max of k = (ts, pid, message, event). A batch's
    increment is the same summary (one lag() window, one min/max
    aggregate). The merge orders each IP's boundary rows by ``first``,
    counts one bridge transition from each row's ``last.event`` to the
    next row's ``first.event``, sums the counts and keeps min(first)
    and max(last).

    Contract: one IP's segments do not interleave in key order (each
    micro-batch holds a contiguous key range per IP, as time-split
    files do). Under it the merge is associative and commutative, so
    the state depends neither on the batch split nor on the order the
    files arrive in. Returns the drain's progress reports."""
    from pyspark.sql import Window

    by_ip = Window.partitionBy("ip")
    src = parsed.filter(F.col("ip").isNotNull()).select(
        "ip", F.struct("ts", "pid", "message", "event").alias("k")
    )

    def increment(batch: DataFrame) -> DataFrame:
        lagged = batch.withColumn(
            "prev_event", F.lag("k.event").over(by_ip.orderBy("k"))
        )
        counts = (
            lagged.where(F.col("prev_event").isNotNull())
            .groupBy("ip", "prev_event", F.col("k.event").alias("event"))
            .agg(F.count(F.lit(1)).alias("n"))
        )
        bounds = batch.groupBy("ip").agg(
            F.min("k").alias("first"), F.max("k").alias("last")
        )
        return counts.unionByName(bounds, allowMissingColumns=True)

    def merge(upd: DataFrame) -> DataFrame:
        # Tell the row kinds apart by a column that is a NULL literal in
        # the other branch of the increment's union (n, first): the
        # optimizer then drops that branch instead of re-reading the batch.
        bounds = upd.where(F.col("first").isNotNull()).withColumn(
            "prev", F.lag("last").over(by_ip.orderBy("first"))
        )
        bridges = bounds.where(F.col("prev").isNotNull()).select(
            "ip",
            F.col("prev.event").alias("prev_event"),
            F.col("first.event").alias("event"),
            F.lit(1).cast("bigint").alias("n"),
        )
        counts = (
            upd.where(F.col("n").isNotNull())
            .select("ip", "prev_event", "event", "n")
            .unionByName(bridges)
            .groupBy("ip", "prev_event", "event")
            .agg(F.sum("n").alias("n"))
        )
        ends = bounds.groupBy("ip").agg(
            F.min("first").alias("first"), F.max("last").alias("last")
        )
        return counts.unionByName(ends, allowMissingColumns=True)

    return _fold_into_state(src, state_dir, increment, merge)


def repeat_offender_pairs(
    parsed: DataFrame,
    within: str = "24 hours",
    watermark: str = "48 hours",
) -> DataFrame:
    """Stream-STREAM interval self-join (ST-10): pair every failed-
    auth event with the SAME IP's strictly-later failures inside the
    ``within`` horizon — the repeat-offender statistic feeding ban
    lists, and the one Structured Streaming join shape nothing else
    in this module exercises (two unbounded watermarked sides,
    equality key + event-time range predicate).

    The range condition bounds each side's state retention: a failed
    row is discardable once the other side's watermark passes
    fail_ts + within, so state is bounded by watermark + join window
    — the property that lets this run forever at 100 TB/day. Inner
    join => append mode; the consumer aggregates pairs per IP from
    the sink. Strict ``>`` keeps self-pairs and same-second
    duplicates out, making the pair set deterministic.
    """
    fails = (
        parsed.filter(F.col("event").isin(*FAILED_EVENTS))
        .filter(F.col("ip").isNotNull())
        .select(F.col("ip"), F.col("ts").alias("first_ts"))
        .withWatermark("first_ts", watermark)
    )
    later = (
        parsed.filter(F.col("event").isin(*FAILED_EVENTS))
        .filter(F.col("ip").isNotNull())
        .select(F.col("ip").alias("r_ip"), F.col("ts").alias("repeat_ts"))
        .withWatermark("repeat_ts", watermark)
    )
    return fails.join(
        later,
        F.expr(
            f"""
            ip = r_ip AND
            repeat_ts > first_ts AND
            repeat_ts <= first_ts + interval {within}
            """
        ),
        "inner",
    ).select("ip", "first_ts", "repeat_ts")


def _fold_into_state(stream: DataFrame, state_dir: str, increment, merge) -> list:
    """Drain ``stream`` into a mergeable parquet state table at
    ``state_dir`` (ST-9's transition counts and the streaming
    sketches ST-13 and ST-15..18); returns the drain's progress
    reports.

    Each micro-batch contributes ``increment(batch)``; it is unioned
    with the current state and ``merge`` collapses the union into the
    new state; the next batch reads it back with the schema it was
    written with (no inference job). The swap is the S-10 compaction
    discipline: write-tmp -> validate ``_SUCCESS`` -> rename, so a
    reader never sees a half-written state. ``merge`` must be
    associative and commutative over increments, which makes the
    drained state independent of how the feed splits into
    micro-batches; that is what earns these streaming queries a full
    hash-match oracle.

    Every call is a fresh drain: stale state or a stale checkpoint
    would make availableNow skip already-seen files, and the
    checkpoint has no replay value afterwards, so only the state dir
    remains on disk between calls."""
    spark = stream.sparkSession
    ckpt, tmp = state_dir + "__ckpt", state_dir + "__tmp"
    for d in (state_dir, ckpt, tmp):
        if os.path.exists(d):
            shutil.rmtree(d)

    schema = None  # of the current state; None until one is written

    def step(batch: DataFrame, _batch_id: int) -> None:
        nonlocal schema
        upd = increment(batch)
        if schema is not None:
            upd = spark.read.schema(schema).parquet(state_dir).unionByName(upd)
        state = merge(upd)
        state.write.mode("overwrite").parquet(tmp)
        if not os.path.exists(os.path.join(tmp, "_SUCCESS")):
            raise RuntimeError(f"state write to {state_dir} did not complete")
        if os.path.exists(state_dir):
            shutil.rmtree(state_dir)
        os.rename(tmp, state_dir)
        schema = state.schema

    try:
        return _drain(
            stream.writeStream.foreachBatch(step)
            .trigger(availableNow=True)
            .option("checkpointLocation", ckpt)
            .start()
        )
    finally:
        for d in (ckpt, tmp):
            shutil.rmtree(d, ignore_errors=True)


def streaming_kmv_state(parsed: DataFrame, state_dir: str, k: int = 16) -> list:
    """ST-13: streaming KMV distinct-count sketch — maintain, per
    event tag, the k smallest 52-bit md5 hashes of the source IPs
    seen so far, merged incrementally by a ``foreachBatch`` job into
    a parquet state table.

    This is the streaming leg of SK-2 (``sketches.kmv_distinct``) and
    the proof of its mergeability claim: min-k union is associative,
    commutative, and idempotent, so the final state is bit-identical
    no matter how the feed splits into micro-batches — which is why
    the registry can give this STREAMING query a full hash-match
    oracle, something the windowed/stateful streaming entries (whose
    outputs depend on trigger timing) cannot have.

    State per group is exactly k rows, state overall k x |tags| —
    the bounded-memory property that lets a 100 TB/day feed keep a
    live distinct-cardinality estimate per key without a
    distinct-set blowup. Each micro-batch merge unions the batch's
    (event, h) pairs with the current state, dedups, and keeps the k
    smallest per event (``_fold_into_state``).
    """
    from bigdata_logs_spark.operators.sketches import kmv_hash_expr, kmv_smallest

    hashed = (
        parsed.where(F.col("ip").isNotNull())
        .select("event", F.expr(kmv_hash_expr("ip")).alias("h"))
    )
    # one dedup AFTER the union subsumes a per-batch pre-dedup
    return _fold_into_state(
        hashed,
        state_dir,
        lambda batch: batch,
        lambda upd: kmv_smallest(upd, "event", k),
    )


def streaming_lsh_dedup_state(
    doc_stream: DataFrame,
    state_dir: str,
    threshold: float = 0.05,
    occupancy_cap: int | None = None,
) -> DataFrame:
    """ST-14: streaming incremental MinHash-LSH deduplication — the
    streaming twin of DD-9 (``incremental_near_dup``): documents
    arrive in micro-batches; each batch's signatures and shingle
    fingerprints are appended to parquet state tables, candidate
    pairs are generated ONLY between the batch and everything seen so
    far (batch×state plus batch×batch — never state×state, which
    earlier batches already emitted), verified with exact shingle
    Jaccard against the fingerprint state, and appended to a pairs
    ledger. Per-batch cost scales with |batch| × bucket occupancy.

    Split-invariance (why this STREAMING query gets a full hash-match
    oracle): a pair is emitted exactly once — in the micro-batch of
    whichever member arrives later (or their shared batch) — and the
    emitted set equals the batch ``near_dup_pairs`` WITHOUT the
    occupancy cap, regardless of how the feed splits into batches.
    (The cap is deliberately absent by DEFAULT: capping per batch
    against a growing state would make emission order-dependent; see
    ``occupancy_cap`` below for the production mode.)

    ``occupancy_cap``: the 100 TB survival knob. With the default
    ``None`` the batch×state candidate join is uncapped — per-batch
    cost is |batch| × bucket occupancy with occupancy unbounded, so a
    boilerplate shingle shared by millions of stored docs makes one
    batch quadratic. Setting a cap applies the batch-side
    ``BUCKET_CAP`` discipline at candidate-generation time: buckets
    whose CURRENT state occupancy exceeds the cap generate no
    candidates this batch, bounding every bucket's contribution to
    cap² pairs per batch. The trade, stated exactly: a pair whose
    every shared bucket is over the cap at the later member's arrival
    is never emitted (bounded recall drift on boilerplate-heavy
    feeds), and because a bucket crosses the cap at a batch-dependent
    moment, the emitted set is no longer batch-split invariant — so
    capped mode carries no hash-match oracle; it is the documented
    operational mode, monitored via ``streaming_lsh_state_occupancy``
    (which reports exactly the pair-expansion exposure the cap
    bounds).

    State layout under ``state_dir``: ``sigs/`` (doc_id, band, sig),
    ``grams/`` (doc_id, gram md5) — fingerprints only, text is never
    stored — and ``pairs/`` (doc_a, doc_b, jaccard), all
    append-mode parquet (single writer; the final read happens after
    the drain completes).
    """
    spark = doc_stream.sparkSession
    from bigdata_logs_spark.operators.dedup import (
        _minhash_signature_rows,
        _shingles,
        _tokens,
    )

    for d in (state_dir, state_dir + "__ckpt"):
        if os.path.exists(d):
            shutil.rmtree(d)
    sig_dir = os.path.join(state_dir, "sigs")
    gram_dir = os.path.join(state_dir, "grams")
    pair_dir = os.path.join(state_dir, "pairs")

    def merge(batch: DataFrame, _batch_id: int) -> None:
        batch = batch.select("doc_id", "text")
        _minhash_signature_rows(batch).write.mode("append").parquet(sig_dir)
        (
            batch.withColumn("tokens", _tokens(F.col("text")))
            .select(
                "doc_id",
                F.explode(F.array_distinct(_shingles())).alias("gram"),
            )
            .write.mode("append")
            .parquet(gram_dir)
        )
        all_sigs = spark.read.parquet(sig_dir)
        if occupancy_cap is not None:
            # candidate-time occupancy gate: buckets over the cap are
            # excluded from BOTH join sides before any pair expansion
            # (digest-only aggregation — the documents never shuffle)
            ok = (
                all_sigs.groupBy("band", "sig")
                .agg(F.count(F.lit(1)).alias("n_occ"))
                .where(F.col("n_occ") <= occupancy_cap)
                .select("band", "sig")
            )
            all_sigs = all_sigs.join(ok, ["band", "sig"], "left_semi")
        batch_ids = batch.select("doc_id")
        batch_sigs = all_sigs.join(batch_ids, "doc_id", "left_semi")
        cand = (
            batch_sigs.select("band", "sig", F.col("doc_id").alias("u"))
            .join(
                all_sigs.select("band", "sig", F.col("doc_id").alias("v")),
                ["band", "sig"],
            )
            .filter(F.col("u") != F.col("v"))
            .select(
                F.least("u", "v").alias("doc_a"),
                F.greatest("u", "v").alias("doc_b"),
            )
            .distinct()
        )
        # drop pairs already emitted by an earlier batch (both-old
        # pairs cannot appear — one side is always from this batch —
        # but a batch doc can re-pair with the same partner through a
        # second shared bucket in a later... same batch only; the
        # anti-join also makes re-delivered batches idempotent)
        if os.path.exists(os.path.join(pair_dir, "_SUCCESS")):
            seen = spark.read.parquet(pair_dir).select("doc_a", "doc_b")
            cand = cand.join(seen, ["doc_a", "doc_b"], "left_anti")
        grams = spark.read.parquet(gram_dir)
        sizes = grams.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
        inter = (
            cand.join(
                grams.select(F.col("doc_id").alias("doc_a"), "gram"), "doc_a"
            )
            .join(
                grams.select(F.col("doc_id").alias("doc_b"), "gram"),
                ["doc_b", "gram"],
            )
            .groupBy("doc_a", "doc_b")
            .agg(F.count(F.lit(1)).alias("n_inter"))
        )
        joined = inter.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a")),
            "doc_a",
        ).join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b")),
            "doc_b",
        )
        union = F.col("sz_a") + F.col("sz_b") - F.col("n_inter")
        (
            joined.select(
                "doc_a",
                "doc_b",
                F.round(F.col("n_inter").cast("double") / union, 4).alias(
                    "jaccard"
                ),
            )
            .filter(F.col("jaccard") >= threshold)
            .write.mode("append")
            .parquet(pair_dir)
        )

    try:
        _drain(
            doc_stream.writeStream.foreachBatch(merge)
            .trigger(availableNow=True)
            .option("checkpointLocation", state_dir + "__ckpt")
            .start()
        )
    finally:
        shutil.rmtree(state_dir + "__ckpt", ignore_errors=True)
    if os.path.exists(os.path.join(pair_dir, "_SUCCESS")):
        return spark.read.parquet(pair_dir).orderBy("doc_a", "doc_b")
    return spark.createDataFrame(
        [], "doc_a bigint, doc_b bigint, jaccard double"
    )


def streaming_lsh_state_occupancy(
    doc_stream: DataFrame, state_dir: str, cap: int = 64
) -> DataFrame:
    """ST-14's operational gauge: drain the feed through the
    (uncapped, hash-certified) LSH dedup, then report the signature
    state's bucket-occupancy profile — the number that decides
    whether the next drain needs ``occupancy_cap``. One row:

    - ``n_buckets`` / ``n_multi``: distinct (band, sig) buckets, and
      how many hold >= 2 docs (the candidate generators);
    - ``max_occupancy``: the hottest bucket — per-batch cost is
      |batch| × THIS without a cap;
    - ``n_over_cap``: buckets past ``cap`` (what capped mode would
      silence);
    - ``n_pairs_uncapped`` vs ``n_pairs_capped``: Σ occ·(occ-1)/2
      with and without the cap — the exact pair-expansion exposure
      the cap bounds, as exact BIGINTs.

    Split-invariant BY CONSTRUCTION (unlike per-batch emission
    counts): the final signature state is one append-only row set per
    document regardless of batching, so every statistic here — and
    its DuckDB oracle — is a pure function of the corpus. The drain
    itself runs CAPPED at ``cap``: the sigs/grams appends happen
    before the candidate gate, so the state (and therefore this
    report) is byte-identical to an uncapped drain, but the gauge
    stays bounded on exactly the boilerplate-heavy feed it exists to
    diagnose — the one place an uncapped drain would go quadratic.
    The report itself is one digest-only aggregation over that state.
    """
    spark = doc_stream.sparkSession
    streaming_lsh_dedup_state(doc_stream, state_dir, occupancy_cap=cap)
    sig_dir = os.path.join(state_dir, "sigs")
    if os.path.exists(os.path.join(sig_dir, "_SUCCESS")):
        sigs = spark.read.parquet(sig_dir)
    else:
        # empty feed: no batch ran, so no state was ever written —
        # report the deterministic empty-state row (n_buckets=0,
        # NULL extrema) instead of crashing on a missing path (the
        # same guard the pairs read in streaming_lsh_dedup_state has).
        # A drain that misses its deadline raises and never gets here.
        sigs = spark.createDataFrame([], "doc_id bigint, band int, sig string")
    occ = sigs.groupBy("band", "sig").agg(F.count(F.lit(1)).alias("n"))
    # integer DIV, not float /2: exact BIGINT at any occupancy
    pairs = F.expr("n * (n - 1) DIV 2")
    return occ.agg(
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum((F.col("n") >= 2).cast("bigint")).alias("n_multi"),
        F.max("n").alias("max_occupancy"),
        F.sum((F.col("n") > cap).cast("bigint")).alias("n_over_cap"),
        F.sum(pairs).alias("n_pairs_uncapped"),
        F.sum(F.when(F.col("n") <= cap, pairs).otherwise(F.lit(0))).alias(
            "n_pairs_capped"
        ),
    )


def streaming_cms_state(parsed: DataFrame, state_dir: str) -> list:
    """ST-15: streaming Count-Min Sketch maintenance — keep the d x w
    counter table of source-IP frequencies live by summing each
    micro-batch's (row, bucket) increments into a parquet state table.

    The streaming leg of SK-1 and the proof of the CMS mergeability
    claim: counter addition is associative and commutative, so the
    drained counter table — and every estimate read from it — is
    bit-identical under ANY micro-batch split of the feed. Like ST-13
    (min-k union) and ST-14 (append-only fingerprints), that
    order-invariance is what earns a full hash-match oracle for a
    streaming query.

    State is <= d*w = 4*128 BIGINT cells REGARDLESS of key cardinality
    or feed length — the bounded-memory heavy-hitter counter a
    100 TB/day feed can keep per key family. Merge discipline is the
    S-10 swap of ``_fold_into_state``.
    """
    from bigdata_logs_spark.operators.sketches import _poly_hash_expr, cms_cells

    cells = (
        parsed.where(F.col("ip").isNotNull())
        .withColumn("h", F.expr(_poly_hash_expr("ip")))
        .select(cms_cells(F.col("h")))
    )
    return _fold_into_state(
        cells,
        state_dir,
        lambda batch: batch.groupBy("row", "bucket").agg(
            F.count(F.lit(1)).alias("counter")
        ),
        lambda upd: upd.groupBy("row", "bucket").agg(
            F.sum("counter").alias("counter")
        ),
    )


def streaming_hll_state(parsed: DataFrame, state_dir: str) -> list:
    """ST-16: streaming HyperLogLog maintenance — keep SK-4's
    64-register distinct-source-IP sketch live by MAX-merging each
    micro-batch's (register, rho) observations into a parquet state
    table.

    The streaming leg of SK-4 and the proof of the HLL mergeability
    claim: register update is MAX, which is associative, commutative,
    AND idempotent — so the drained register table (and the estimate
    read from it) is bit-identical under any micro-batch split AND
    under replayed/duplicated input, the strongest of the streaming
    invariances (ST-15's counters tolerate resplitting but not
    replay). That idempotence is why production engines checkpoint
    HLL registers, not raw keys.

    State is <= m = 64 BIGINT rows regardless of key cardinality or
    feed length. Merge discipline is the S-10 swap of
    ``_fold_into_state``."""
    from bigdata_logs_spark.operators.sketches import hll_registers, kmv_hash_expr

    hashed = parsed.where(F.col("ip").isNotNull()).select(
        F.expr(kmv_hash_expr("ip")).alias("h")
    )
    return _fold_into_state(
        hashed,
        state_dir,
        hll_registers,
        lambda upd: upd.groupBy("idx").agg(F.max("r").alias("r")),
    )


def streaming_length_histogram_state(parsed: DataFrame, state_dir: str) -> list:
    """ST-17: streaming message-length histogram maintenance — a
    256-bin fixed-width histogram of parsed SSH message lengths
    (payload-size drift is a classic ops observable: a new log
    template or truncation bug shifts the length distribution before
    any count moves), SUM-merged per micro-batch into a parquet state
    table, from which SK-7's quantile extraction reads p50/90/95/99.

    The streaming twin of SK-7 with the one design change streaming
    forces: SK-7 cuts bins from the batch-global min/max, which a
    stream cannot know — so the bins here are DATA-INDEPENDENT
    (width 4 over [0, 1024), lengths clamped into the top bin), the
    same fixed-domain discipline production quantile services use for
    mergeable histograms. Counter merge is SUM — associative and
    commutative, so the drained state is bit-identical under any
    micro-batch split (ST-15's invariance class; not replay-idempotent
    like ST-16's MAX registers, which the oracle does not assume).

    State is <= 256 BIGINT rows regardless of feed length. Merge
    discipline is the S-10 swap of ``_fold_into_state``."""
    bins = parsed.where(F.col("message").isNotNull()).select(
        F.expr("least(length(message), 1023) div 4").alias("bin")
    )
    return _fold_into_state(
        bins,
        state_dir,
        lambda batch: batch.groupBy("bin").agg(F.count(F.lit(1)).alias("cnt")),
        lambda upd: upd.groupBy("bin").agg(F.sum("cnt").alias("cnt")),
    )


def streaming_bloom_state(parsed: DataFrame, state_dir: str) -> list:
    """ST-18: streaming Bloom-filter maintenance — SK-5's m=1024-bit,
    k=4-hash filter over the source IPs seen so far, kept live by
    union-DISTINCT-merging each micro-batch's set-bit positions into a
    parquet state table. The streaming membership gate every ingest
    pipeline wants ("have we EVER seen this key?" without storing
    keys).

    Bit-set union is associative, commutative AND idempotent — the
    ST-16 invariance class: the drained bit set is bit-identical
    under any micro-batch split and under replayed/duplicated input
    (a replayed key just re-sets bits that are already set). That
    idempotence is exactly why Bloom state (like HLL registers, unlike
    CMS counters) is safe to maintain under at-least-once delivery.

    State is <= m = 1024 one-column rows regardless of key
    cardinality or feed length. Merge discipline is the S-10 swap of
    ``_fold_into_state``."""
    from bigdata_logs_spark.operators.sketches import bloom_positions, kmv_hash_expr

    bits = parsed.where(F.col("ip").isNotNull()).select(
        F.explode(bloom_positions(F.expr(kmv_hash_expr("ip")))).alias("bit")
    )
    return _fold_into_state(
        bits,
        state_dir,
        lambda batch: batch.select("bit").distinct(),
        lambda upd: upd.distinct(),
    )
