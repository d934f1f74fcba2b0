"""Batch sources and sinks.

The reference moves data text -> CSV -> MongoDB, erasing and
re-inferring types at each hop (reference ``src/parse_logs.py:110``,
``src/insert_mongo.py:7,14-15``). Here the canonical store is Parquet
with one explicit schema: columnar, splittable, predicate/projection
pushdown for free (reference ops S-1..S-7 in SURVEY.md §2.1).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StructType

# Driver-provided star schema + event stream + LLM-pipeline tables.
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# Parquet schemas already inferred, by path: the stamp they were
# inferred under and the schema. A stamp is the name, size and mtime of
# every file under the path plus the session confs that change what
# inference returns, so a rewritten file or a flipped conf re-infers.
# Two threads missing at once both infer; each stores a correct entry.
_SCHEMAS: dict[str, tuple[tuple, StructType]] = {}
_INFERENCE_CONFS = (
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.mergeSchema",
)


def _stamp(spark: SparkSession, path: str) -> tuple:
    files = [path] if os.path.isfile(path) else sorted(
        os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
    )
    stats = []
    for f in files:
        st = os.stat(f)
        stats.append((f, st.st_size, st.st_mtime_ns))
    return tuple(stats), tuple(spark.conf.get(c) for c in _INFERENCE_CONFS)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one parquet table from a scale-factor directory.

    The schema is inferred once per file: later loads of an unchanged
    local path under the same inference confs pass the remembered
    schema to the reader, which then runs no Spark job (inference runs
    one per read).

    ``ts`` comes in one of two physical forms:

    - ``TIMESTAMP(MICROS, isAdjustedToUTC=false)`` (the committed test
      data and the benchmark tables) reads as ``timestamp_ntz`` and is
      kept as it is;
    - ``TIMESTAMP(NANOS)``, which Spark's parquet reader rejects, is
      read as a long (runtime-settable legacy conf, works on any
      caller-provided session) and converted once to a microsecond
      ``timestamp``: truncation, matching how nanosecond-aware engines
      render to microseconds.
    """
    # Event-time semantics must not depend on the caller session's zone
    # (naive parquet timestamps render in session tz): pin UTC here so
    # results are identical under any driver-provided SparkSession.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = os.path.join(sf_dir, f"{name}.parquet")
    # a path this process cannot list (not local) is inferred every time
    stamp = _stamp(spark, path) if os.path.exists(path) else None
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[0] == stamp:  # stored stamps are never None
        schema = hit[1]
        df = spark.read.schema(schema).parquet(path)
    else:
        df = spark.read.parquet(path)
        schema = df.schema
        if stamp is not None:
            _SCHEMAS[path] = (stamp, schema)
    if "ts" in schema.names and schema["ts"].dataType == LongType():
        from pyspark.sql import functions as F

        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str, names=TABLES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def read_ssh_log_text(spark: SparkSession, path: str) -> DataFrame:
    """Raw syslog lines, one row per line in column ``value``.

    Replaces the reference's whole-file ``readlines()``
    (``src/parse_logs.py:5-6``) with a splittable, partitioned text
    scan — on a cluster each file split parses in parallel with no
    shuffle (narrow pipeline).
    """
    return spark.read.text(path)


# Sentinel distinguishing NULL from empty string across the CSV hop —
# the reference loses exactly this distinction (its CSV round-trip turns
# None into NaN/'', ``src/insert_mongo.py:7``); an explicit sentinel +
# explicit schema make the hop lossless.
CSV_NULL = "\\N"


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """Header CSV sink (reference S-2, ``src/parse_logs.py:110``) —
    kept for interchange; the canonical store is Parquet."""
    (
        df.write.mode(mode)
        .option("header", True)
        .option("nullValue", CSV_NULL)
        .csv(path)
    )


def read_csv(spark: SparkSession, path: str, schema) -> DataFrame:
    """CSV source with EXPLICIT schema (reference S-3,
    ``src/insert_mongo.py:6-7`` re-infers types on every read — the
    drift point this engine eliminates)."""
    return (
        spark.read.option("header", True)
        .option("nullValue", CSV_NULL)
        .schema(schema)
        .csv(path)
    )


def write_parquet(
    df: DataFrame,
    path: str,
    mode: str = "append",
    partition_by: tuple[str, ...] = (),
) -> None:
    """Canonical append sink (replaces the reference's Mongo
    ``insert_many``, ``src/insert_mongo.py:9-15``).

    ``partition_by`` (e.g. event date) enables partition pruning for
    the time-ranged dashboard queries at scale.
    """
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_json(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """JSON-lines interchange sink. Unlike the reference's Mongo hop
    (documents with whatever types arrived, ``src/insert_mongo.py:14-15``)
    the pairing with :func:`read_json`'s explicit schema keeps the hop
    lossless — absent keys round-trip to real NULLs."""
    df.write.mode(mode).json(path)


def read_json(spark: SparkSession, path: str, schema) -> DataFrame:
    """JSON-lines source with EXPLICIT schema (no sampling-based
    inference pass — at 100 TB schema inference is a full extra scan)."""
    return spark.read.schema(schema).json(path)


def write_orc(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """ORC columnar sink — second columnar interchange format beside
    the canonical Parquet store (predicate pushdown + column pruning
    work identically)."""
    df.write.mode(mode).orc(path)


def read_orc(spark: SparkSession, path: str) -> DataFrame:
    """ORC source; schema travels in the file footer, so no explicit
    schema needed (unlike text formats)."""
    return spark.read.orc(path)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_col: str,
    n_buckets: int = 8,
    mode: str = "overwrite",
    path: str | None = None,
) -> None:
    """Bucketed table: pre-shuffles rows into ``n_buckets`` hash
    buckets on ``bucket_col`` at WRITE time, so every later join or
    aggregation on that key runs with NO exchange — the shuffle is
    paid once, not per query. This is the co-located-join strategy
    for fact-fact joins that are too big to broadcast at 100 TB.
    ``path`` makes it external (data outside the warehouse dir)."""
    w = (
        df.write.mode(mode)
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .format("parquet")
    )
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def upsert_keep_latest(
    base: DataFrame,
    updates: DataFrame,
    keys: list[str],
    order_col: str,
) -> DataFrame:
    """CDC-style merge on plain parquet semantics: union base and
    update rows, keep the latest version of each key (greatest
    ``order_col``; updates win ties). This is what MERGE INTO
    compiles to on table formats — minus their file-level pruning —
    expressed as one shuffle on the key plus a per-key window.

    At 100 TB the practical variant partitions the store and merges
    only partitions the update batch touches; the per-key plan here
    is that inner merge."""
    from pyspark.sql import Window, functions as F

    cols = base.columns
    u = base.select(*cols).withColumn("_src", F.lit(0)).unionByName(
        updates.select(*cols).withColumn("_src", F.lit(1))
    )
    w = Window.partitionBy(*keys).orderBy(
        F.desc(order_col), F.desc("_src")
    )
    return (
        u.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "_src")
    )


def compact_parquet(
    spark: SparkSession,
    path: str,
    target_files_per_partition: int = 1,
    partition_by: tuple[str, ...] = (),
) -> int:
    """Small-file compaction for an append-mode parquet store (S-10).

    Streaming/incremental appends accumulate many small files per
    date partition; scans then pay one task + one footer read per
    file, and at 100 TB the NameNode/listing cost alone hurts. This
    rewrites the store at up to ``target_files_per_partition`` files
    per partition (a deterministic row-hash salt joins the partition
    keys in the repartition — hashing the partition keys alone would
    collapse every partition to ONE task/file regardless of the
    target; task-placement collisions between salt groups can merge
    some), then swaps directories. Returns the file count after
    compaction.

    Swap caveat (plain local/HDFS semantics — POSIX cannot exchange
    two directories atomically): the swap is two renames; a crash
    between them leaves the data parked at ``<path>__compact_bak``
    rather than at ``path``. Table formats make this a metadata
    commit (OPTIMIZE); this is the equivalent inner job minus the
    transaction log.
    """
    import os
    import shutil

    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + "__compact_tmp"
    if partition_by:
        salt = F.pmod(
            F.hash(*[c for c in df.columns if c not in partition_by]),
            F.lit(target_files_per_partition),
        )
        # explicit numPartitions: AQE would otherwise coalesce a
        # small shuffle into one task and undo the fan-out
        n_parts = df.select(*partition_by).distinct().count()
        writer = (
            df.withColumn("_salt", salt)
            .repartition(
                max(1, n_parts * target_files_per_partition),
                *partition_by,
                "_salt",
            )
            .drop("_salt")
            .write.mode("overwrite")
        )
    else:
        writer = df.coalesce(target_files_per_partition).write.mode(
            "overwrite"
        )
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(tmp)
    # validate BEFORE the swap: both counts are parquet-footer
    # metadata reads (no data scan). A bad rewrite must never replace
    # the only copy of the store.
    n_src = df.count()
    n_tmp = spark.read.parquet(tmp).count()
    if n_tmp != n_src:
        shutil.rmtree(tmp, ignore_errors=True)
        raise RuntimeError(
            f"compaction rewrite row count mismatch ({n_src} -> {n_tmp}); "
            f"source left untouched at {path}"
        )
    bak = path.rstrip("/") + "__compact_bak"
    shutil.rmtree(bak, ignore_errors=True)
    os.rename(path, bak)
    os.rename(tmp, path)
    shutil.rmtree(bak, ignore_errors=True)
    n = 0
    for _, _, files in os.walk(path):
        n += sum(1 for f in files if f.endswith(".parquet"))
    return n


ZORDER_X_SQL = "(((day(ts) - 1) * 24 + hour(ts)) % 65536)"
ZORDER_Y_SQL = "(CAST(floor(value) AS BIGINT) % 65536)"


def zorder_cells(events: DataFrame, cell_shift: int = 10) -> DataFrame:
    """Z-order layout audit (S-14): Morton-interleave (hour-of-month,
    value-bucket) — two natural range-predicate dimensions — and
    report, per coarse z-cell, how narrow a range of EACH dimension
    the cell spans.

    Why this is a first-class storage op at 100 TB: a table can be
    sorted on only one column, so file-level min/max stats prune
    predicates on that column alone. Writing in z-key order
    (``df.repartitionByRange("zkey").sortWithinPartitions("zkey")
    .write...``) makes every output file a small tile in BOTH
    dimensions — each 2^10 z-range here is a 32x32 (x, y) tile — so
    footer stats prune 2-D predicates without a second copy of the
    data. This query is the audit that proves the tiling property
    numerically (per-cell min/max spans), engine-independently; the
    pytest twin performs the actual z-sorted write and checks
    per-file spans via input_file_name().

    The interleave is pure bit arithmetic in whole-stage codegen
    (``zorder_key``); the audit is one hash-aggregate on the derived
    cell key.
    """
    from pyspark.sql import functions as F

    from bigdata_logs_spark.functions import zorder_key

    z = zorder_key(ZORDER_X_SQL, ZORDER_Y_SQL)
    return (
        events.select(
            z.alias("zkey"),
            F.expr(ZORDER_X_SQL).alias("xb"),
            F.expr(ZORDER_Y_SQL).alias("yb"),
        )
        .groupBy(F.expr(f"zkey >> {cell_shift}").cast("long").alias("z_cell"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min("xb").alias("min_hour_bucket"),
            F.max("xb").alias("max_hour_bucket"),
            F.min("yb").alias("min_value_bucket"),
            F.max("yb").alias("max_value_bucket"),
        )
        .orderBy("z_cell")
    )


def daily_rollup_partials(events: DataFrame) -> DataFrame:
    """Day×type grain partial aggregate used by the incremental
    rollup: count plus an EXACT decimal value sum, so partials from
    different maintenance runs combine associatively without float
    drift (sum-of-partial-decimals == decimal-sum-of-all)."""
    from pyspark.sql import functions as F

    return events.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("date"),
        "event_type",
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,2)")).alias("value_partial"),
    )


def incremental_rollup_update(
    stored_rollup: DataFrame, delta_events: DataFrame
) -> DataFrame:
    """S-15: maintain a materialized day×type rollup from an append
    delta WITHOUT rescanning history — aggregate only the delta to
    the rollup grain, then combine partials grain-wise (counts add;
    decimal partial sums add exactly).

    This is the 100 TB dashboard-maintenance pattern: per refresh the
    work is O(|delta| + |rollup|), never O(|history|). The combine is
    a union + re-agg on the day grain, so Catalyst plans it as one
    narrow hash aggregate over two small inputs; correctness is
    oracle-proven as combine(partials) == full recompute.
    """
    from pyspark.sql import functions as F

    delta = daily_rollup_partials(delta_events)
    return (
        stored_rollup.unionByName(delta)
        .groupBy("date", "event_type")
        .agg(
            F.sum("n").alias("n"),
            F.sum("value_partial").alias("value_partial"),
        )
    )


def write_versioned(df: DataFrame, path: str) -> int:
    """S-16: append a new immutable SNAPSHOT VERSION of a table —
    ``path/v=N`` — and return N. Readers pin a version for
    reproducible reads (``read_versioned``); rollback is "read the
    previous N"; concurrent readers of version N are isolated from
    the in-flight write of N+1 because a version is only visible once
    its ``_SUCCESS`` marker lands (Spark writes it last).

    This is the poor-man's lakehouse time travel (an ADR consequence
    of parquet-without-Delta — same shape as the Mongo->parquet ADR):
    Delta/Iceberg would replace the directory convention with a
    transaction log, and every caller of these two functions keeps
    the same contract. Local-FS directory probe; a cluster deployment
    swaps in the Hadoop FileSystem API.
    """
    import os
    import re

    existing = [
        int(m.group(1))
        for d in (os.listdir(path) if os.path.isdir(path) else [])
        if (m := re.fullmatch(r"v=(\d+)", d))
        and os.path.exists(os.path.join(path, d, "_SUCCESS"))
    ]
    version = max(existing, default=0) + 1
    df.write.mode("overwrite").parquet(os.path.join(path, f"v={version}"))
    return version


def read_versioned(
    spark: SparkSession, path: str, version: int | None = None
) -> DataFrame:
    """Read snapshot ``version`` of a versioned table (``None`` =
    latest committed). Only ``_SUCCESS``-marked versions are visible —
    a crashed writer's partial ``v=N`` directory is never read."""
    import os
    import re

    committed = [
        int(m.group(1))
        for d in os.listdir(path)
        if (m := re.fullmatch(r"v=(\d+)", d))
        and os.path.exists(os.path.join(path, d, "_SUCCESS"))
    ]
    if not committed:
        raise FileNotFoundError(f"no committed versions under {path}")
    pick = version if version is not None else max(committed)
    if pick not in committed:
        raise FileNotFoundError(f"version {pick} not committed under {path}")
    return spark.read.parquet(os.path.join(path, f"v={pick}"))


def observed_write(df: DataFrame, path: str, metrics: dict) -> dict:
    """OPS-1: instrument a sink write with Spark's Observation API —
    the metrics are computed BY THE WRITE JOB itself (a CollectMetrics
    node evaluated as rows stream to the sink), so pipeline telemetry
    costs zero extra passes over the data. This is the production
    answer to "how many rows/how much value did last night's ETL
    actually land": the reference can only re-query Mongo after the
    fact (``/root/reference/src/insert_mongo.py:17`` prints a static
    success line).

    ``metrics`` maps metric name -> aggregate Column (count/sum/min/
    max family — CollectMetrics rejects distinct and nondeterministic
    aggregates). Returns the observed values dict after the write
    action completes.
    """
    from pyspark.sql import Observation

    obs = Observation("etl")
    observed = df.observe(obs, *[c.alias(n) for n, c in metrics.items()])
    observed.write.mode("overwrite").parquet(path)
    return obs.get
