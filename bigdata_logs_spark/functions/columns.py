"""Reusable column-expression helpers.

All helpers return native Column expressions (JVM-side, whole-stage
codegen eligible) — no Python UDFs in any hot path.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def null_if_empty(c: Column) -> Column:
    """'' -> NULL. Regex extracts return '' on no-match; the reference's
    Python ``re.search`` returns None instead (e.g.
    ``src/parse_logs.py:17,22,25``) — this restores that semantics."""
    return F.nullif(c, F.lit(""))


def nonempty(c: Column) -> Column:
    """Boolean: column is non-null and non-empty string."""
    return c.isNotNull() & (c != F.lit(""))


def count_if(cond: Column) -> Column:
    """Conditional count aggregate (reference pattern
    ``df['event'].isin(S).sum()``, ``src/stats_dashboard.py:40``)."""
    return F.sum(F.when(cond, F.lit(1)).otherwise(F.lit(0)))


def sorted_distinct_string(c: Column, sep: str = ",") -> Column:
    """Sorted distinct values joined to one string.

    Reproduces ``sorted(set(...))`` list columns
    (``src/stats_dashboard.py:106,112``) in a hash-comparable form.
    At 100 TB a per-group collect_set must be bounded; callers that
    profile unbounded-cardinality groups should slice first.
    """
    return F.array_join(F.sort_array(F.collect_set(c)), sep)


def zorder_key(x_sql: str, y_sql: str, bits: int = 16) -> Column:
    """Morton (Z-order) interleave of two non-negative ``bits``-wide
    integer expressions — the multi-dimensional clustering key behind
    lakehouse ``OPTIMIZE ... ZORDER BY``: rows sorted by this key land
    so that each output file covers a NARROW range of BOTH dimensions,
    making parquet footer min/max stats prune 2-D predicates (a plain
    sort clusters only its leading column).

    Pure bit arithmetic inside whole-stage codegen: bit i of x goes
    to position 2i, bit i of y to 2i+1 (disjoint targets, so the
    bit-ors reduce to a sum — the same construction an engine's
    native z-order writer uses). Inputs must already be discretized
    to [0, 2^bits); callers bucket continuous columns first.
    """
    return F.expr(zorder_terms_sql(x_sql, y_sql, bits))


def zorder_terms_sql(x_sql: str, y_sql: str, bits: int = 16) -> str:
    """The z-interleave as engine-neutral SQL text (plain >> & << +
    arithmetic, fully parenthesized) — one generator feeds both the
    Spark expression and the DuckDB oracle, so the two engines are
    bit-identical by construction."""
    # shifts happen on BIGINT: an INT-typed input would overflow to
    # negative once a bit lands at position >= 31
    terms = " + ".join(
        f"((CAST(({x_sql}) AS BIGINT) >> {i}) & 1) * {1 << (2 * i)} + "
        f"((CAST(({y_sql}) AS BIGINT) >> {i}) & 1) * {1 << (2 * i + 1)}"
        for i in range(bits)
    )
    return f"CAST({terms} AS BIGINT)"


_SPREAD_MEMO: dict[tuple, bool] = {}

# Below this many physical input bytes the spread never fires: one
# core chews the whole corpus faster than a 32-task exchange can pay
# for itself (measured: warm deltas at 64-584 KB are <0.3 s either
# way, while every skipped exchange saves fixed task overhead in the
# capped driver correctness sweep).
SPREAD_MIN_BYTES = 256 << 10


def _local_input_bytes(files: tuple[str, ...]) -> int | None:
    """Total size of the physical input, or None when any file is on
    a non-local filesystem (can't stat cheaply — callers fall back to
    the split-count probe; at cluster scale the input is big anyway)."""
    import os
    from urllib.parse import unquote, urlparse

    total = 0
    for f in files:
        u = urlparse(f)
        if u.scheme not in ("", "file"):
            return None
        try:
            total += os.path.getsize(unquote(u.path))
        except OSError:
            return None
    return total


def spread_small_input(df, min_factor: int = 2):
    """Round-robin repartition a DataFrame whose physical input has
    materially fewer splits than the session has slots.

    CPU-heavy narrow stages (shingle explosion, per-row hashing,
    higher-order lambdas) inherit the scan's parallelism; a small
    parquet corpus reads as ONE split and serializes the whole stage
    through one core. At production scale inputs carry plenty of
    splits and this is a metadata check + no-op; the repartition only
    fires when the input is at least ``min_factor``x under-split, so
    it never adds an exchange to a well-partitioned 100 TB scan.

    The split-count probe (``df.rdd``) costs a full physical
    planning pass, so the decision is memoized per input-file set;
    repeat calls pay only a cheap ``inputFiles`` lookup. Non-file
    inputs (in-memory frames) are left untouched.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    files = tuple(sorted(df.inputFiles()))
    if not files:
        return df
    # cheap bytes gate first: a corpus this small is faster on one
    # core than behind an exchange, and skipping here also skips the
    # split-count estimate
    total = _local_input_bytes(files)
    if total is not None and total < SPREAD_MIN_BYTES:
        return df
    # key includes the decision inputs, not just the files — a later
    # call with a different min_factor or a session with different
    # parallelism must not inherit a stale verdict
    key = (files, min_factor, target)
    dec = _SPREAD_MEMO.get(key)
    if dec is None:
        splits = _estimated_splits(df.sparkSession, total, len(files))
        if splits is None:
            # non-local input: fall back to the physical-planning
            # probe (costly, but cluster inputs are rarely tiny and
            # the verdict is memoized)
            splits = df.rdd.getNumPartitions()
        dec = splits * min_factor <= target
        _SPREAD_MEMO[key] = dec
    return df.repartition(target) if dec else df


def _estimated_splits(spark, total_bytes: int | None, n_files: int) -> int | None:
    """Metadata-only estimate of the scan's partition count, using
    Spark's own FilePartition packing formula — replaces the earlier
    ``df.rdd.getNumPartitions()`` probe, which cost a full physical
    planning pass and showed up as seconds on cold queries. Returns
    None when sizes are unknown (non-local input)."""
    if total_bytes is None:
        return None
    try:
        conf = spark._jsparkSession.sessionState().conf()
        max_part = int(conf.filesMaxPartitionBytes())
        open_cost = int(conf.filesOpenCostInBytes())
    except Exception:
        max_part = 128 * 1024 * 1024
        open_cost = 4 * 1024 * 1024
    padded = total_bytes + n_files * open_cost
    cores = spark.sparkContext.defaultParallelism
    bytes_per_core = padded // max(cores, 1)
    max_split = min(max_part, max(open_cost, bytes_per_core))
    return max(1, -(-padded // max(max_split, 1)))


def pushdown_barrier(df, cols: tuple[str, ...] | None = None):
    """Identity projection that BLOCKS filter pushdown below this
    point, by wrapping each column in a nondeterministic-but-identity
    expression (``when(spark_partition_id() >= -1, col)``).

    Why: Catalyst pushes filters through ``repartition``. For a
    CPU-heavy derived input (the synthesized SSH lines: every filter
    on parsed fields drags 12 regex extractors and a timestamp parse
    with it), that re-serializes the expensive expressions into the
    single-split scan stage that ``spread_small_input`` just paid an
    exchange to escape — observed 6x slowdown. Placing this barrier
    between the repartition and the parse keeps the parse (and any
    filter above it) on the parallel side of the exchange.

    At production scale (well-split input, no repartition) it is a
    per-row no-op branch; filters on regex-derived fields were never
    scan-pushable anyway, so nothing is lost.
    """
    names = cols or tuple(df.columns)
    return df.select(
        *[
            F.when(F.spark_partition_id() >= -1, F.col(c)).alias(c)
            for c in names
        ]
    )
