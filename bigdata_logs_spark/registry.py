"""Query registry: named (PySpark query, DuckDB oracle SQL) pairs.

Each entry is one operator/query from SURVEY.md §2 (``tags`` carries
the survey IDs). The driver runs the Spark callable and the oracle SQL
side-by-side at sf0.01 and compares row-count + schema + an
order-insensitive value hash, so both sides follow shared conventions:

- identical aliases for every computed column;
- dates/timestamps formatted to ISO strings on both sides;
- double sums accumulate in DECIMAL (order-independent) then cast to
  double once, so partition-parallel Spark sums hash-match DuckDB;
- averages written explicitly as sum/count;
- in DuckDB SQL every float literal is cast ``::DOUBLE`` (DuckDB
  parses ``2.0`` as DECIMAL, which would change rounding semantics);
- arithmetic operand order mirrored exactly (IEEE doubles are
  deterministic given identical operation order);
- every ORDER-sensitive result carries a total deterministic sort key
  (ties broken by the group key) — top-k under ties is otherwise
  engine-dependent.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field
from functools import partial

from pyspark.sql import DataFrame, SparkSession

from bigdata_logs_spark.operators import dashboard as D
from bigdata_logs_spark.operators import topk as T
from bigdata_logs_spark.operators.enrich import with_event_time
from bigdata_logs_spark.operators.parse import parse_ssh_lines
from bigdata_logs_spark.operators.ssh_synth import synthesize_ssh_lines
from bigdata_logs_spark.functions import count_if as count_if_expr
from bigdata_logs_spark.sources import load_table


@dataclass(frozen=True)
class QuerySpec:
    fn: Callable[[SparkSession, str], DataFrame]
    oracle: str | None  # ANSI SQL for DuckDB; None -> rows-only check
    tags: tuple[str, ...] = field(default_factory=tuple)


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str,
    oracle: str | None,
    tags: tuple[str, ...] = (),
    op: Callable[..., DataFrame] | None = None,
    tables: tuple[str, ...] = (),
):
    """Add a query to ``REGISTRY``.

    With ``op``, the query is ``op`` applied to the named ``tables``
    (loaded in that order) and nothing is returned; constant arguments
    go in through ``functools.partial``. Without it, ``register`` is a
    decorator for a builder ``fn(spark, sf_dir) -> DataFrame``.
    A name already in ``REGISTRY`` raises ``ValueError``."""
    if name in REGISTRY:
        raise ValueError(f"query {name!r} is already registered")

    def deco(fn):
        REGISTRY[name] = QuerySpec(fn=fn, oracle=oracle, tags=tags)
        return fn

    if op is None:
        return deco
    deco(lambda spark, sf_dir: op(*(load_table(spark, sf_dir, t) for t in tables)))


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "events")


_SCRATCH_DIRS: set[str] = set()


def _scratch_path(prefix: str, sf_dir: str) -> str:
    """Per-process scratch dir for roundtrip/store/bucketed/stream
    artifacts. The PID component keeps two concurrent processes (e.g.
    bench and oracle_check on the same sf dir) from racing on one
    directory — the _SUCCESS-gated reuse caches stay valid within a
    process, which is the only scope Spark's catalog spans anyway.
    Everything this process created is removed at interpreter exit so
    repeated runs don't accumulate tmp garbage."""
    import os
    import tempfile

    tag = os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    path = os.path.join(tempfile.gettempdir(), f"{prefix}_{os.getpid()}_{tag}")
    _SCRATCH_DIRS.add(path)
    return path


def _cleanup_scratch() -> None:
    import shutil

    for p in _SCRATCH_DIRS:
        shutil.rmtree(p, ignore_errors=True)


import atexit as _atexit  # noqa: E402

_atexit.register(_cleanup_scratch)


# SQL fragments shared by several oracles (kept in one place so the
# suspicious-event set / thresholds can't drift between queries).
SUSP_SQL = "('error', 'signup')"
SUSP_CASE = f"CASE WHEN event_type IN {SUSP_SQL} THEN 1 ELSE 0 END"
HIGH_VALUE = "150.0"

# 1 on a user's first event and on every event more than 30 minutes
# after that user's previous one (ties ordered by event_id).
SESSION_START_SQL = """CASE WHEN floor(epoch(ts))::BIGINT
                       - lag(floor(epoch(ts))::BIGINT)
                         OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       IS NULL
                  OR floor(epoch(ts))::BIGINT
                       - lag(floor(epoch(ts))::BIGINT)
                         OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > 1800
             THEN 1 ELSE 0 END"""

# Daily event counts ``base(d, x)``, d in days since 1970-01-01, and the
# gap-free calendar ``cal(d)`` from the first day to the last.
DAILY_CAL_CTES = """
    WITH base AS (
      SELECT (ts::DATE - DATE '1970-01-01')::BIGINT AS d,
             COUNT(*)::BIGINT AS x
      FROM events GROUP BY 1
    ), rngt AS (
      SELECT MIN(d) AS lo, MAX(d) AS hi FROM base
    ), cal AS (
      SELECT unnest(range(lo, hi + 1)) AS d FROM rngt
    )"""
# DAILY_CAL_CTES plus ``series(d, x)``: the daily counts with 0 on days
# without events.
DAILY_SERIES_CTES = DAILY_CAL_CTES + """, series AS (
      SELECT c.d, COALESCE(b.x, 0)::BIGINT AS x
      FROM cal c LEFT JOIN base b USING (d)
    )"""


# --------------------------------------------------------------------------
# Dashboard family over `events`
# --------------------------------------------------------------------------

register(
    "global_metrics",
    f"""
    SELECT
      COUNT(*)::BIGINT AS total_records,
      COUNT(DISTINCT user_id)::BIGINT AS unique_users,
      COUNT(DISTINCT event_type)::BIGINT AS distinct_events,
      SUM({SUSP_CASE})::BIGINT AS failed_events,
      ROUND(SUM({SUSP_CASE})::DOUBLE * 100.0::DOUBLE / COUNT(*), 2) AS failed_rate_pct
    FROM events
    """,
    tags=("D-18", "D-19", "D-20", "D-15"),
    op=D.global_metrics, tables=("events",),
)


register(
    "global_metrics_approx",
    None,  # HLL sketches differ across engines — rows-only check.
    tags=("D-19",),
    op=D.global_metrics_approx, tables=("events",),
)


register(
    "event_type_counts",
    """
    SELECT event_type, COUNT(*)::BIGINT AS n
    FROM events GROUP BY event_type
    ORDER BY n DESC, event_type
    """,
    tags=("D-21",),
    op=D.event_type_counts, tables=("events",),
)


register(
    "top_entities",
    """
    SELECT user_id, COUNT(*)::BIGINT AS n
    FROM events GROUP BY user_id
    ORDER BY n DESC, user_id LIMIT 10
    """,
    tags=("D-21", "D-39"),
    op=partial(D.entity_value_counts, k=10), tables=("events",),
)


register(
    "events_per_hour",
    """
    SELECT strftime(ts, '%H') AS hour, COUNT(*)::BIGINT AS n
    FROM events GROUP BY 1 ORDER BY hour
    """,
    tags=("D-22", "D-10", "D-12"),
    op=D.events_per_hour, tables=("events",),
)


register(
    "events_per_day",
    """
    SELECT strftime(ts, '%Y-%m-%d') AS date, COUNT(*)::BIGINT AS total_events
    FROM events GROUP BY 1 ORDER BY date
    """,
    tags=("D-22", "D-11"),
    op=D.events_per_day, tables=("events",),
)


register(
    "events_by_type_per_day",
    """
    SELECT strftime(ts, '%Y-%m-%d') AS date, event_type, COUNT(*)::BIGINT AS n
    FROM events GROUP BY 1, 2 ORDER BY date, event_type
    """,
    tags=("D-23",),
    op=D.events_by_type_per_day, tables=("events",),
)


register(
    "suspicious_vs_normal_per_day",
    f"""
    SELECT strftime(ts, '%Y-%m-%d') AS date,
           SUM({SUSP_CASE})::BIGINT AS "Suspicious",
           SUM(CASE WHEN event_type IN {SUSP_SQL} THEN 0 ELSE 1 END)::BIGINT AS "Normal"
    FROM events GROUP BY 1 ORDER BY date
    """,
    tags=("D-13", "D-23", "D-24"),
    op=D.suspicious_vs_normal_per_day, tables=("events",),
)


register(
    "entity_event_matrix",
    """
    SELECT user_id,
           SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS click,
           SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS error,
           SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS purchase,
           SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS signup,
           SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS view
    FROM events GROUP BY user_id ORDER BY user_id
    """,
    tags=("D-25", "D-26"),
    op=D.entity_event_matrix, tables=("events",),
)


# Shared CTE for the flagship profile oracle (D-25..D-31 + D-14 + D-43).
PROFILE_ORACLE_CTE = f"""
WITH base AS (
  SELECT user_id, event_type, value, ts,
         CAST(regexp_extract(props, '"k"\\s*:\\s*(\\d+)', 1) AS BIGINT) AS k
  FROM events
), agg AS (
  SELECT user_id,
    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS click_events,
    SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS error_events,
    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS purchase_events,
    SUM(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)::BIGINT AS signup_events,
    SUM(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS view_events,
    COUNT(*)::BIGINT AS total_events,
    COUNT(DISTINCT k)::BIGINT AS distinct_k,
    array_to_string(list_sort(list_distinct(list(k::VARCHAR) FILTER (WHERE k IS NOT NULL))), ',') AS k_list,
    strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS first_seen,
    strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS last_seen,
    SUM({SUSP_CASE})::BIGINT AS failed_events,
    SUM(CASE WHEN value > {HIGH_VALUE} THEN 1 ELSE 0 END)::BIGINT AS high_value_events,
    COUNT(DISTINCT event_type)::BIGINT AS event_diversity,
    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
  FROM base GROUP BY user_id
), scored AS (
  SELECT *,
    LEAST(100.0::DOUBLE,
          2.0::DOUBLE * failed_events + 3.0::DOUBLE * distinct_k
          + 0.5::DOUBLE * total_events
          + 15.0::DOUBLE * (CASE WHEN high_value_events > 0 THEN 1 ELSE 0 END)
          + 1.0::DOUBLE * event_diversity) AS suspicious_score
  FROM agg
), classified AS (
  SELECT *,
    LEAST(100.0::DOUBLE,
          0.6::DOUBLE * suspicious_score + 5.0::DOUBLE * high_value_events
          + 2.0::DOUBLE * failed_events) AS attacker_score,
    LEAST(100.0::DOUBLE,
          1.5::DOUBLE * event_diversity + 2.0::DOUBLE * distinct_k) AS bot_score
  FROM scored
), legit AS (
  SELECT *,
    GREATEST(0.0::DOUBLE, 100.0::DOUBLE - attacker_score - bot_score) AS legit_score
  FROM classified
), profile AS (
  SELECT user_id, click_events, error_events, purchase_events, signup_events,
         view_events, total_events, distinct_k, k_list, first_seen, last_seen,
         failed_events, high_value_events, event_diversity, total_value,
         suspicious_score,
         ROUND(attacker_score * 100.0::DOUBLE / (attacker_score + bot_score + legit_score), 1) AS attacker_pct,
         ROUND(bot_score * 100.0::DOUBLE / (attacker_score + bot_score + legit_score), 1) AS bot_pct,
         ROUND(legit_score * 100.0::DOUBLE / (attacker_score + bot_score + legit_score), 1) AS authorized_pct
  FROM legit
)
"""


register(
    "entity_profile",
    PROFILE_ORACLE_CTE + "SELECT * FROM profile ORDER BY suspicious_score DESC, user_id",
    tags=("D-25", "D-26", "D-27", "D-28", "D-29", "D-30", "D-31", "D-14",
          "D-16", "D-17", "D-36", "D-41", "D-42", "D-43", "D-44"),
    op=D.entity_profile_sorted, tables=("events",),
)


@register(
    "profile_global_stats",
    PROFILE_ORACLE_CTE
    + """
    SELECT
      COUNT(*)::BIGINT AS total_entities,
      SUM(CASE WHEN failed_events > 0 THEN 1 ELSE 0 END)::BIGINT AS entities_with_failures,
      SUM(CASE WHEN high_value_events > 0 THEN 1 ELSE 0 END)::BIGINT AS entities_high_value,
      SUM(CASE WHEN total_events > 100 THEN 1 ELSE 0 END)::BIGINT AS entities_over_100_events,
      MAX(total_events)::BIGINT AS max_events_per_entity,
      ROUND(SUM(total_events)::DOUBLE / COUNT(*), 2) AS avg_events_per_entity,
      ROUND(SUM(suspicious_score)::DOUBLE / COUNT(*), 2) AS avg_suspicious_score,
      SUM(CASE WHEN suspicious_score > 80 THEN 1 ELSE 0 END)::BIGINT AS entities_score_over_80
    FROM profile
    """,
    tags=("D-32", "D-8"),
)
def q_profile_global_stats(spark, sf_dir):
    return D.profile_global_stats(D.entity_profile(_events(spark, sf_dir)))


@register(
    "diversity_distribution",
    PROFILE_ORACLE_CTE
    + """
    SELECT event_diversity, COUNT(*)::BIGINT AS n
    FROM profile GROUP BY event_diversity ORDER BY event_diversity
    """,
    tags=("D-33", "D-37"),
)
def q_diversity_distribution(spark, sf_dir):
    return D.diversity_distribution(D.entity_profile(_events(spark, sf_dir)))


@register(
    "score_histogram",
    PROFILE_ORACLE_CTE
    + """
    SELECT CAST(FLOOR(suspicious_score / 5.0::DOUBLE) * 5.0::DOUBLE AS DOUBLE) AS score_bin,
           COUNT(*)::BIGINT AS n
    FROM profile GROUP BY 1 ORDER BY score_bin
    """,
    tags=("D-34",),
)
def q_score_histogram(spark, sf_dir):
    return D.score_histogram(D.entity_profile(_events(spark, sf_dir)))


register(
    "distinct_event_types",
    "SELECT DISTINCT event_type FROM events WHERE event_type IS NOT NULL ORDER BY event_type",
    tags=("D-35",),
    op=D.distinct_event_types, tables=("events",),
)


register(
    "events_for_entity",
    """
    SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts, user_id,
           event_type, value, props
    FROM events WHERE user_id = 7
    ORDER BY ts DESC, event_id
    """,
    tags=("D-6", "D-7", "D-36"),
    op=partial(D.events_for_entity, user_id=7), tables=("events",),
)


register(
    "events_of_type",
    """
    SELECT event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts, user_id,
           event_type, value
    FROM events WHERE event_type = 'error'
    """,
    tags=("D-3", "D-2"),
    op=partial(D.events_of_type, event_type="error"), tables=("events",),
)


register(
    "entity_hourly_activity",
    """
    SELECT strftime(ts, '%H') || ':00' AS hour_label, COUNT(*)::BIGINT AS n
    FROM events WHERE user_id = 7 GROUP BY 1 ORDER BY hour_label
    """,
    tags=("D-6", "D-22", "D-12"),
    op=partial(D.entity_hourly_activity, user_id=7), tables=("events",),
)


register(
    "top_events_with_others",
    """
    WITH counts AS (
      SELECT user_id::VARCHAR AS category, COUNT(*)::BIGINT AS n
      FROM events GROUP BY user_id
    ), ranked AS (
      SELECT category, n,
             ROW_NUMBER() OVER (ORDER BY n DESC, category) AS rnk
      FROM counts
    )
    SELECT CASE WHEN rnk <= 10 THEN category ELSE 'Others' END AS category,
           SUM(n)::BIGINT AS n
    FROM ranked GROUP BY 1 ORDER BY n DESC, category
    """,
    tags=("D-40",),
    op=partial(T.top_k_with_others, key="user_id", k=10), tables=("events",),
)


@register(
    "profile_percentages_long",
    PROFILE_ORACLE_CTE
    + """
    SELECT user_id, u.category, u.probability
    FROM profile,
         (VALUES ('Attacker'), ('Bot'), ('Authorized')) AS v(cname),
         LATERAL (SELECT v.cname AS category,
                         CASE v.cname
                           WHEN 'Attacker' THEN attacker_pct
                           WHEN 'Bot' THEN bot_pct
                           ELSE authorized_pct END AS probability) u
    ORDER BY user_id, category
    """,
    tags=("D-45",),
)
def q_profile_percentages_long(spark, sf_dir):
    return D.profile_percentages_long(D.entity_profile(_events(spark, sf_dir)))


@register(
    "cumulative_daily_events",
    """
    WITH daily AS (
      SELECT strftime(ts, '%Y-%m-%d') AS date, COUNT(*)::BIGINT AS n
      FROM events GROUP BY 1
    )
    SELECT date, n,
           SUM(n) OVER (ORDER BY date
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
             AS running_total
    FROM daily ORDER BY date
    """,
    tags=("W-2",),
)
def q_cumulative_daily_events(spark, sf_dir):
    """Running total over the daily series (unbounded-preceding frame)
    — the windowed running aggregate the reference lacks. The window
    partitions globally but runs over the ALREADY-AGGREGATED daily
    rows (30 rows, not 100k events), so the single-partition window
    is safe at any scale."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    daily = (
        _events(spark, sf_dir)
        .groupBy(F.date_format("ts", "yyyy-MM-dd").alias("date"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.orderBy("date").rowsBetween(Window.unboundedPreceding, 0)
    return daily.withColumn("running_total", F.sum("n").over(w)).orderBy("date")


@register(
    "latest_event_per_user",
    """
    SELECT user_id, event_id, strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts,
           event_type
    FROM (
      SELECT user_id, event_id, ts, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1 ORDER BY user_id
    """,
    tags=("W-3",),
)
def q_latest_event_per_user(spark, sf_dir):
    """Distinct-on / keep-latest per key via row_number (deterministic
    event_id tiebreak) — the dedup-keep-first building block."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    w = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    return (
        _events(spark, sf_dir)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "event_id",
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS").alias("ts"),
            "event_type",
        )
        .orderBy("user_id")
    )


@register(
    "daily_event_rollup",
    """
    SELECT strftime(ts, '%Y-%m-%d') AS date, event_type,
           COUNT(*)::BIGINT AS n
    FROM events GROUP BY ROLLUP(1, event_type)
    ORDER BY date ASC NULLS FIRST, event_type ASC NULLS FIRST
    """,
    tags=("AGG-1",),
)
def q_daily_event_rollup(spark, sf_dir):
    """ROLLUP hierarchy (day, event_type) -> day subtotal -> grand
    total in one pass — the grouping-sets capability the reference
    computes as three separate dashboard group-bys."""
    from pyspark.sql import functions as F

    return (
        _events(spark, sf_dir)
        .withColumn("date", F.date_format("ts", "yyyy-MM-dd"))
        .rollup("date", "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.asc_nulls_first("date"), F.asc_nulls_first("event_type"))
    )


@register(
    "value_percentiles",
    """
    SELECT event_type,
           ROUND(quantile_cont(value, 0.5), 6) AS p50,
           ROUND(quantile_cont(value, 0.95), 6) AS p95,
           ROUND(quantile_cont(value, 0.99), 6) AS p99
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    tags=("AGG-2",),
)
def q_value_percentiles(spark, sf_dir):
    """Exact interpolated percentiles per event type (both engines
    use linear interpolation on the sorted set). At 100 TB swap for
    approx_percentile — same call shape, sketch-based."""
    from pyspark.sql import functions as F

    return (
        _events(spark, sf_dir)
        .groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
            F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
        )
        .orderBy("event_type")
    )


@register(
    "salted_event_counts",
    """
    SELECT event_type, COUNT(*)::BIGINT AS n
    FROM events GROUP BY event_type ORDER BY n DESC, event_type
    """,
    tags=("AGG-3",),
)
def q_salted_event_counts(spark, sf_dir):
    """Explicit two-phase salted aggregation for pathologically hot
    keys: count per (key, salt) first, merge per key second — no
    single reducer ever sees a whole hot key. Result is provably
    identical to the direct groupBy (same oracle). Spark's map-side
    partial aggregation makes this unnecessary for counts; the
    pattern exists for agg functions without partial pushdown
    (exact distincts, collect_list) at 100 TB."""
    from pyspark.sql import functions as F

    salted = _events(spark, sf_dir).withColumn(
        "salt", F.pmod(F.col("event_id"), F.lit(8))
    )
    partial = salted.groupBy("event_type", "salt").agg(
        F.count(F.lit(1)).alias("pn")
    )
    return (
        partial.groupBy("event_type")
        .agg(F.sum("pn").alias("n"))
        .orderBy(F.desc("n"), F.asc("event_type"))
    )


@register(
    "returning_users",
    """
    SELECT user_id FROM events WHERE ts < TIMESTAMP '2024-01-15 00:00:00'
    INTERSECT
    SELECT user_id FROM events WHERE ts >= TIMESTAMP '2024-01-15 00:00:00'
    ORDER BY user_id
    """,
    tags=("SET-1",),
)
def q_returning_users(spark, sf_dir):
    """INTERSECT (§2.7): users active in both halves of the window.
    Plans as a left-semi hash join on the distinct sets."""
    from pyspark.sql import functions as F

    ev = _events(spark, sf_dir)
    cut = F.lit("2024-01-15 00:00:00").cast("timestamp")
    first = ev.filter(F.col("ts") < cut).select("user_id")
    second = ev.filter(F.col("ts") >= cut).select("user_id")
    return first.intersect(second).orderBy("user_id")


@register(
    "users_never_high_value",
    f"""
    SELECT DISTINCT user_id FROM events
    EXCEPT
    SELECT DISTINCT user_id FROM events WHERE value > {HIGH_VALUE}
    ORDER BY user_id
    """,
    tags=("SET-2",),
)
def q_users_never_high_value(spark, sf_dir):
    """EXCEPT (§2.7): users with no high-value events — the
    exclusion pattern as a set op (plans as left-anti join)."""
    from pyspark.sql import functions as F

    ev = _events(spark, sf_dir)
    all_users = ev.select("user_id").distinct()
    high = ev.filter(F.col("value") > float(HIGH_VALUE)).select("user_id").distinct()
    return all_users.exceptAll(high).orderBy("user_id")


@register(
    "props_key_distribution",
    """
    SELECT CAST(json_extract_string(props, '$.k') AS INT) AS k_value,
           COUNT(*)::BIGINT AS n,
           ROUND(SUM(CAST(value AS DECIMAL(28, 6)))::DOUBLE, 2) AS total_value
    FROM events
    GROUP BY 1 ORDER BY k_value
    """,
    tags=("F-1",),
)
def q_props_key_distribution(spark, sf_dir):
    """Semi-structured scalar path: JSON field extraction from the
    `props` column (get_json_object) feeding a grouped aggregate —
    stays inside whole-stage codegen, no UDF."""
    from pyspark.sql import functions as F

    return (
        _events(spark, sf_dir)
        .select(
            F.get_json_object("props", "$.k").cast("int").alias("k_value"),
            "value",
        )
        .groupBy("k_value")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(28,6)")).cast("double"), 2
            ).alias("total_value"),
        )
        .orderBy("k_value")
    )


# --------------------------------------------------------------------------
# SSH parse family (P-1..P-15) over lines synthesized from `events`
# --------------------------------------------------------------------------
# The generator below is mirrored column-for-column by the Spark
# implementation in operators/ssh_synth.py; the parse SQL is an
# independently-written twin of operators/parse.py, so a hash match
# proves Java-regex vs RE2 parity over the full volume.

SSH_GEN_CTE = r"""
WITH gen AS (
  SELECT
    CASE WHEN event_id % 47 = 0 THEN
      printf('%s %d %s srv%d CRON[%d]: session opened',
             strftime(ts, '%b'), EXTRACT(day FROM ts)::INT,
             strftime(ts, '%H:%M:%S'), (user_id % 5)::INT,
             (event_id % 30000 + 1)::INT)
    ELSE
      printf('%s %d %s srv%d sshd[%d]: %s',
             strftime(ts, '%b'), EXTRACT(day FROM ts)::INT,
             strftime(ts, '%H:%M:%S'), (user_id % 5)::INT,
             (event_id % 30000 + 1)::INT,
             CASE event_type
               WHEN 'click' THEN printf(
                 'Accepted password for u%d from 10.0.%d.%d port %d ssh2',
                 user_id::INT, (user_id % 200)::INT, (event_id % 250)::INT,
                 (1024 + event_id % 9999)::INT)
               WHEN 'error' THEN printf(
                 'Failed password for root from 203.0.113.%d port %d ssh2',
                 (user_id % 200)::INT, (1024 + event_id % 9999)::INT)
               WHEN 'purchase' THEN printf(
                 'pam_unix(sshd:auth): authentication failure; logname= uid=%d euid=0 tty=ssh ruser= rhost=198.51.100.%d  user=root',
                 (user_id % 3)::INT, (user_id % 200)::INT)
               WHEN 'signup' THEN printf(
                 'Invalid user guest%d from 192.0.2.%d',
                 user_id::INT, (user_id % 200)::INT)
               ELSE printf(
                 'Received disconnect from 172.16.%d.%d: 11: Bye Bye [preauth]',
                 (user_id % 200)::INT, (event_id % 250)::INT)
             END)
    END AS value
  FROM events
)"""

SSH_MASTER = r'^(\w+)\s+(\d+)\s+([\d:]+)\s+(\S+)\s+sshd\[(\d+)\]:\s+(.*)'
SSH_IP_RE = r'from ([\d\.]+)|\[(\d+\.\d+\.\d+\.\d+)\]'

SSH_PARSE_CTE = (
    SSH_GEN_CTE
    + f"""
, fields AS (
  -- TRY_CAST, not CAST: DuckDB may evaluate the projection on rows
  -- the regexp_matches filter will discard (chunk-at-a-time
  -- execution), where the extract is '' and a plain CAST('' AS INT)
  -- aborts the whole query. On matching rows the groups are \\d+ so
  -- TRY_CAST is value-identical. (Surfaced by the sf0.1 sweep; the
  -- same plan never evaluated the cast early at sf0.01.)
  SELECT
    regexp_extract(value, '{SSH_MASTER}', 1) AS month,
    TRY_CAST(regexp_extract(value, '{SSH_MASTER}', 2) AS INT) AS day,
    regexp_extract(value, '{SSH_MASTER}', 3) AS time,
    regexp_extract(value, '{SSH_MASTER}', 4) AS host,
    TRY_CAST(regexp_extract(value, '{SSH_MASTER}', 5) AS INT) AS pid,
    regexp_extract(value, '{SSH_MASTER}', 6) AS message
  FROM gen
  WHERE regexp_matches(value, '{SSH_MASTER}')
), parsed AS (
  SELECT month, day, time, host, pid, message,
    COALESCE(NULLIF(regexp_extract(message, '{SSH_IP_RE}', 1), ''),
             NULLIF(regexp_extract(message, '{SSH_IP_RE}', 2), '')) AS ip,
    COALESCE(NULLIF(regexp_extract(message, 'Invalid user (\\S+)', 1), ''),
             NULLIF(regexp_extract(message, 'user=(\\S+)', 1), ''),
             NULLIF(regexp_extract(message, 'for (\\w+) from', 1), '')) AS user,
    CAST(NULLIF(regexp_extract(message, 'port (\\d+)', 1), '') AS INT) AS port,
    CASE
      WHEN contains(message, 'Invalid user') THEN 'invalid_user'
      WHEN contains(message, 'Failed password') THEN 'failed_password'
      WHEN contains(message, 'authentication failure') THEN 'auth_failure'
      WHEN contains(message, 'reverse mapping') THEN 'reverse_mapping_check'
      WHEN contains(message, 'Connection closed') THEN 'connection_closed'
      WHEN contains(message, 'Received disconnect') THEN 'disconnect'
      WHEN contains(message, 'Did not receive identification string') THEN 'no_identification'
      WHEN contains(message, 'Too many authentication failures') THEN 'too_many_failures'
      WHEN contains(message, 'ignoring max retries') THEN 'ignoring_max_retries'
      WHEN contains(message, 'Failed none') THEN 'failed_none'
      ELSE 'other'
    END AS event,
    NULLIF(regexp_extract(message, 'rhost=([^\\s]+)', 1), '') AS rhost,
    NULLIF(regexp_extract(message, 'tty=([^\\s]+)', 1), '') AS tty,
    CASE WHEN contains(message, 'logname=')
         THEN regexp_extract(message, 'logname=([^\\s]*)', 1) END AS logname,
    CAST(NULLIF(regexp_extract(message, 'uid=(\\d+)', 1), '') AS INT) AS uid,
    CAST(NULLIF(regexp_extract(message, 'euid=(\\d+)', 1), '') AS INT) AS euid,
    CASE WHEN contains(message, 'ruser=')
         THEN regexp_extract(message, 'ruser=([^\\s]*)', 1) END AS ruser,
    NULLIF(regexp_extract(message, 'pam_(\\w+)\\(sshd:(\\w+)\\)', 1), '') AS method,
    CASE WHEN regexp_matches(message, 'ssh\\d')
         THEN 'ssh' || regexp_extract(message, 'ssh(\\d)', 1) END AS protocol_version,
    CASE
      WHEN contains(message, 'Received disconnect') THEN 'received_disconnect'
      WHEN contains(message, 'Connection closed') THEN 'connection_closed'
      WHEN contains(message, 'Disconnected from') THEN 'disconnected'
      WHEN contains(lower(message), 'timeout') THEN 'timeout'
    END AS disconnect_reason
  FROM fields
)"""
)

# SSH_PARSE_CTE plus the failed-auth ``bursts(ip, ts, burst)``: per
# failure, the IP's failures in the 600 s ending at it.
SSH_FAIL_BURSTS_CTES = SSH_PARSE_CTE + """
    , fails AS (
      SELECT ip, strptime('2024 ' || month || ' ' || day || ' ' || time,
                          '%Y %b %d %H:%M:%S') AS ts
      FROM parsed
      WHERE event IN ('failed_password', 'invalid_user', 'auth_failure')
        AND ip IS NOT NULL
    ), bursts AS (
      SELECT ip, ts,
             (COUNT(*) OVER (PARTITION BY ip ORDER BY epoch(ts)::BIGINT
                RANGE BETWEEN 599 PRECEDING AND CURRENT ROW))::BIGINT AS burst
      FROM fails
    )"""


def _ssh_lines(spark, sf_dir):
    # The sf0.1 events parquet is a single file, so every downstream
    # regex extractor and timestamp parse would otherwise run in ONE
    # task; spread_small_input round-robins the lines across the
    # session's slots (metadata-gated no-op on well-split inputs) —
    # the same treatment the minhash shingle stage gets.
    # ...and a pushdown barrier keeps the parse there: Catalyst
    # otherwise pushes every filter-on-parsed-fields (dragging the
    # extractors with it) back below the exchange into the one-split
    # scan stage (observed 6x).
    from bigdata_logs_spark.functions import pushdown_barrier, spread_small_input

    return pushdown_barrier(
        spread_small_input(
            synthesize_ssh_lines(load_table(spark, sf_dir, "events"))
        )
    )


@register(
    "ssh_parse_full",
    SSH_PARSE_CTE + "\nSELECT * FROM parsed",
    tags=("P-1", "P-2", "P-3", "P-4", "P-5", "P-6", "P-7", "P-8", "P-9",
          "P-10", "P-11", "P-12", "P-13", "P-14", "P-15", "S-1"),
)
def q_ssh_parse_full(spark, sf_dir):
    return parse_ssh_lines(_ssh_lines(spark, sf_dir))


@register(
    "ssh_event_counts",
    SSH_PARSE_CTE
    + """
    SELECT event, COUNT(*)::BIGINT AS n FROM parsed
    GROUP BY event ORDER BY n DESC, event
    """,
    tags=("P-13", "D-21"),
)
def q_ssh_event_counts(spark, sf_dir):
    from pyspark.sql import functions as F

    return (
        parse_ssh_lines(_ssh_lines(spark, sf_dir))
        .groupBy("event")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("event"))
    )


@register(
    "ssh_parse_drop_stats",
    SSH_GEN_CTE
    + f"""
    SELECT COUNT(*)::BIGINT AS total_lines,
           SUM(CASE WHEN regexp_matches(value, '{SSH_MASTER}') THEN 1 ELSE 0 END)::BIGINT AS parsed_lines,
           SUM(CASE WHEN regexp_matches(value, '{SSH_MASTER}') THEN 0 ELSE 1 END)::BIGINT AS dropped_lines
    FROM gen
    """,
    tags=("P-1",),
)
def q_ssh_parse_drop_stats(spark, sf_dir):
    from pyspark.sql import functions as F

    from bigdata_logs_spark.operators.parse import MASTER_RE

    lines = _ssh_lines(spark, sf_dir)
    return lines.agg(
        F.count(F.lit(1)).alias("total_lines"),
        count_if_expr(F.col("value").rlike(MASTER_RE)).alias("parsed_lines"),
        count_if_expr(~F.col("value").rlike(MASTER_RE)).alias("dropped_lines"),
    )


@register(
    "ssh_parse_rejects",
    SSH_GEN_CTE
    + f"""
    SELECT value AS raw_line FROM gen
    WHERE NOT regexp_matches(value, '{SSH_MASTER}')
    ORDER BY raw_line
    """,
    tags=("P-1", "P-16"),
)
def q_ssh_parse_rejects(spark, sf_dir):
    """Dead-letter leg of the parse-or-drop filter (P-1): the raw
    lines the master regex rejects, exactly as a dead-letter sink
    would persist them. Oracle-checked value-by-value — proves the
    reject side is the precise complement of ssh_parse_full."""
    from bigdata_logs_spark.operators.parse import parse_with_rejects

    _, rejects = parse_with_rejects(_ssh_lines(spark, sf_dir))
    return rejects.orderBy("raw_line")


@register(
    "ssh_events_per_day",
    SSH_PARSE_CTE
    + """
    SELECT strftime(strptime('2024 ' || month || ' ' || day || ' ' || time,
                             '%Y %b %d %H:%M:%S'), '%Y-%m-%d') AS date,
           COUNT(*)::BIGINT AS n
    FROM parsed GROUP BY 1 ORDER BY date
    """,
    tags=("D-9", "D-11", "D-22"),
)
def q_ssh_events_per_day(spark, sf_dir):
    from pyspark.sql import functions as F

    parsed = with_event_time(parse_ssh_lines(_ssh_lines(spark, sf_dir)))
    return (
        parsed.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("date"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("date")
    )


@register(
    "ssh_root_admin_attempts",
    SSH_PARSE_CTE
    + """
    SELECT ip, COUNT(*)::BIGINT AS attempts FROM parsed
    WHERE event IN ('failed_password', 'invalid_user', 'auth_failure')
      AND lower(COALESCE(user, '')) IN ('root', 'admin')
    GROUP BY ip ORDER BY attempts DESC, ip
    """,
    tags=("D-1", "D-4", "D-5"),
)
def q_ssh_root_admin_attempts(spark, sf_dir):
    """Per-source root/admin attack attempts: null-replace (D-1),
    suspicious-event IN-list (D-4), case-insensitive user IN (D-5) —
    the filter trio from stats_dashboard.py:23,112,114."""
    from pyspark.sql import functions as F

    parsed = parse_ssh_lines(_ssh_lines(spark, sf_dir))
    return (
        parsed.withColumn("user", F.coalesce(F.col("user"), F.lit("")))
        .filter(F.col("event").isin("failed_password", "invalid_user", "auth_failure"))
        .filter(F.lower(F.col("user")).isin("root", "admin"))
        .groupBy("ip")
        .agg(F.count(F.lit(1)).alias("attempts"))
        .orderBy(F.desc("attempts"), F.asc("ip"))
    )


@register(
    "ssh_latest_events",
    SSH_PARSE_CTE
    + """
    SELECT strftime(strptime('2024 ' || month || ' ' || day || ' ' || time,
                             '%Y %b %d %H:%M:%S'), '%Y-%m-%d %H:%M:%S') AS ts,
           host, pid, event, message
    FROM parsed
    ORDER BY ts DESC, host, pid, event, message LIMIT 10
    """,
    tags=("D-36", "D-38"),
)
def q_ssh_latest_events(spark, sf_dir):
    """Most-recent-events preview (sort desc + limit, D-36/D-38).
    The sort key is the full output row, so ties at the limit
    boundary are identical rows and the result stays deterministic.
    Catalyst plans this as TakeOrderedAndProject (distributed top-k,
    no global sort)."""
    from pyspark.sql import functions as F

    parsed = with_event_time(parse_ssh_lines(_ssh_lines(spark, sf_dir)))
    return (
        parsed.select(
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"),
            "host",
            "pid",
            "event",
            "message",
        )
        .orderBy(
            F.desc("ts"), F.asc("host"), F.asc("pid"), F.asc("event"), F.asc("message")
        )
        .limit(10)
    )


@register(
    "store_roundtrip",
    SSH_PARSE_CTE
    + """
    SELECT strftime(strptime('2024 ' || month || ' ' || day || ' ' || time,
                             '%Y %b %d %H:%M:%S'), '%Y-%m-%d') AS date,
           COUNT(*)::BIGINT AS n,
           COUNT(DISTINCT ip)::BIGINT AS distinct_ips,
           COUNT(port)::BIGINT AS with_port
    FROM parsed GROUP BY 1 ORDER BY date
    """,
    tags=("S-4", "S-5"),
)
def q_store_roundtrip(spark, sf_dir):
    """Canonical-store fidelity: parse -> write date-partitioned
    parquet (append-mode sink standing in for the reference's Mongo
    insert_many) -> re-read -> aggregate. Partitioning by date gives
    the time-ranged dashboard queries partition pruning at scale;
    the oracle checks the hop was lossless."""
    from pyspark.sql import functions as F

    from bigdata_logs_spark.sources import write_parquet

    parsed = with_event_time(parse_ssh_lines(_ssh_lines(spark, sf_dir))).withColumn(
        "date", F.date_format("ts", "yyyy-MM-dd")
    )
    store = _scratch_path("bls_store", sf_dir)
    write_parquet(parsed, store, mode="overwrite", partition_by=("date",))
    back = spark.read.parquet(store)
    return (
        back.groupBy("date")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("ip").alias("distinct_ips"),
            F.count("port").alias("with_port"),
        )
        .orderBy("date")
    )


@register(
    "store_schema_evolution",
    """
    SELECT event_type, COUNT(*)::BIGINT AS n,
           COUNT(CASE WHEN event_id % 2 = 1 THEN value END)::BIGINT
             AS n_with_value,
           ROUND(MIN(CASE WHEN event_id % 2 = 1 THEN value END), 6)
             AS min_value,
           ROUND(MAX(CASE WHEN event_id % 2 = 1 THEN value END), 6)
             AS max_value
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    tags=("S-11",),
)
def q_store_schema_evolution(spark, sf_dir):
    """Schema-drift read (S-11): a v1 writer lands (event_id,
    user_id, event_type); a later v2 writer appends the same plus a
    new ``value`` column. ``mergeSchema`` reconciles the footers at
    read time — v1 rows surface NULL ``value`` — and the aggregate
    proves no rows or values were lost across the drift. This is the
    append-only schema-evolution story a 100 TB store lives with
    (never rewrite old files for a new column); min/max instead of
    sum keeps the check exact under any row order."""
    import os as _o

    from pyspark.sql import functions as F

    events = load_table(spark, sf_dir, "events")
    store = _scratch_path("bls_evostore", sf_dir)
    done = _o.path.join(store, "_BOTH_VERSIONS_DONE")
    if not _o.path.exists(done):
        v1 = events.filter(F.col("event_id") % 2 == 0).select(
            "event_id", "user_id", "event_type"
        )
        v2 = events.filter(F.col("event_id") % 2 == 1).select(
            "event_id", "user_id", "event_type", "value"
        )
        v1.write.mode("overwrite").parquet(store)
        v2.write.mode("append").parquet(store)
        with open(done, "w") as fh:
            fh.write("ok")
    back = spark.read.option("mergeSchema", "true").parquet(store)
    return (
        back.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("value").alias("n_with_value"),
            F.round(F.min("value"), 6).alias("min_value"),
            F.round(F.max("value"), 6).alias("max_value"),
        )
        .orderBy("event_type")
    )


@register(
    "csv_roundtrip",
    SSH_PARSE_CTE
    + """
    SELECT event, COUNT(*)::BIGINT AS n,
           COUNT(port)::BIGINT AS with_port,
           COUNT(user)::BIGINT AS with_user
    FROM parsed GROUP BY event ORDER BY event
    """,
    tags=("S-2", "S-3"),
)
def q_csv_roundtrip(spark, sf_dir):
    """CSV interchange fidelity: write header CSV with a null
    sentinel, re-read with the EXPLICIT parse schema (the reference
    re-infers types at this hop and corrupts null/int columns,
    src/insert_mongo.py:7) -> aggregate; the oracle computed from the
    pre-CSV rows proves the hop was lossless."""
    from pyspark.sql import functions as F

    from bigdata_logs_spark.sources import read_csv, write_csv

    parsed = parse_ssh_lines(_ssh_lines(spark, sf_dir))
    out = _scratch_path("bls_csv", sf_dir)
    write_csv(parsed, out)
    back = read_csv(spark, out, parsed.schema)
    return (
        back.groupBy("event")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("port").alias("with_port"),
            F.count("user").alias("with_user"),
        )
        .orderBy("event")
    )


# --------------------------------------------------------------------------
# Star-schema join family (§2.6, §2.8)
# --------------------------------------------------------------------------

from bigdata_logs_spark.operators import joins as J  # noqa: E402

# Shared money-revenue SQL term (exact decimal accumulation).
REV_SQL = "CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(1 - l_discount AS DECIMAL(8,2))"


register(
    "pricing_summary",
    f"""
    SELECT l_returnflag, l_linestatus,
      CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
      CAST(SUM({REV_SQL}) AS DOUBLE) AS sum_disc_price,
      CAST(SUM({REV_SQL} * CAST(1 + l_tax AS DECIMAL(8,2))) AS DOUBLE) AS sum_charge,
      ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 2) AS avg_qty,
      ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 2) AS avg_price,
      COUNT(*)::BIGINT AS count_order
    FROM lineitem
    WHERE l_shipdate <= '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    ORDER BY l_returnflag, l_linestatus
    """,
    tags=("J-1",),
    op=J.pricing_summary, tables=("lineitem",),
)


register(
    "top_revenue_customers",
    f"""
    WITH order_rev AS (
      SELECT l_orderkey, SUM({REV_SQL}) AS order_rev
      FROM lineitem GROUP BY l_orderkey
    ), cust_rev AS (
      SELECT o_custkey, SUM(order_rev) AS rev_dec, COUNT(*)::BIGINT AS order_count
      FROM orders JOIN order_rev ON o_orderkey = l_orderkey
      GROUP BY o_custkey
    )
    SELECT c_custkey, c_name, CAST(rev_dec AS DOUBLE) AS revenue, order_count
    FROM customer JOIN cust_rev ON c_custkey = o_custkey
    ORDER BY revenue DESC, c_custkey LIMIT 10
    """,
    tags=("J-2", "D-39"),
    op=J.top_revenue_customers, tables=("customer", "orders", "lineitem"),
)


register(
    "regional_revenue",
    f"""
    WITH order_rev AS (
      SELECT l_orderkey, SUM({REV_SQL}) AS order_rev
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT r_name AS region, n_name AS nation,
           CAST(SUM(order_rev) AS DOUBLE) AS revenue,
           COUNT(*)::BIGINT AS order_count
    FROM orders
      JOIN order_rev ON o_orderkey = l_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
      JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    ORDER BY region, nation
    """,
    tags=("J-3",),
    op=J.regional_revenue,
    tables=("region", "nation", "customer", "orders", "lineitem"),
)


register(
    "customers_without_orders",
    """
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer
    WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
    ORDER BY c_custkey
    """,
    tags=("J-4",),
    op=J.customers_without_orders, tables=("customer", "orders"),
)


register(
    "customers_with_open_orders",
    """
    SELECT c_custkey, c_name
    FROM customer
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
    ORDER BY c_custkey
    """,
    tags=("J-5",),
    op=J.customers_with_open_orders, tables=("customer", "orders"),
)


register(
    "part_type_revenue",
    f"""
    SELECT p_type,
           CAST(SUM({REV_SQL}) AS DOUBLE) AS revenue,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qty
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY p_type ORDER BY p_type
    """,
    tags=("J-6",),
    op=J.part_type_revenue, tables=("part", "lineitem"),
)


register(
    "top_order_per_customer",
    """
    SELECT o_custkey, o_orderkey, o_totalprice,
           strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn = 1
    ORDER BY o_custkey
    """,
    tags=("W-1",),
    op=J.top_order_per_customer, tables=("orders",),
)


register(
    "customer_order_stats",
    """
    WITH per_cust AS (
      SELECT o_custkey, COUNT(*)::BIGINT AS n_orders,
             SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS spend_dec
      FROM orders GROUP BY o_custkey
    )
    SELECT c_custkey, c_mktsegment,
           COALESCE(n_orders, 0)::BIGINT AS n_orders,
           COALESCE(CAST(spend_dec AS DOUBLE), 0.0::DOUBLE) AS total_spend
    FROM customer LEFT JOIN per_cust ON c_custkey = o_custkey
    ORDER BY c_custkey
    """,
    tags=("J-7", "D-41", "D-42"),
    op=J.customer_order_stats, tables=("customer", "orders"),
)


register(
    "order_priority_counts",
    """
    SELECT o_orderpriority, COUNT(*)::BIGINT AS n
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    tags=("D-21",),
    op=J.order_priority_counts, tables=("orders",),
)


register(
    "segment_nation_sales",
    """
    SELECT c_mktsegment, n_name AS nation, COUNT(*)::BIGINT AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sales
    FROM orders
      JOIN customer ON o_custkey = c_custkey
      JOIN nation ON c_nationkey = n_nationkey
    GROUP BY c_mktsegment, n_name
    ORDER BY c_mktsegment, nation
    """,
    tags=("J-8",),
    op=J.segment_nation_sales, tables=("customer", "nation", "orders"),
)


# --------------------------------------------------------------------------
# Text analysis + dedup family over `documents` (§2.11)
# --------------------------------------------------------------------------

from bigdata_logs_spark.operators import dedup as DD  # noqa: E402
from bigdata_logs_spark.operators import textops as TX  # noqa: E402

# Tokenization contract shared by all text oracles.
TOKS_CTE = r"""
WITH toks AS (
  SELECT *, CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                 ELSE string_split_regex(trim(text), '\s+') END AS tokens
  FROM documents
)"""

SHINGLES_EXPR = (
    "CASE WHEN len(tokens) < 3 THEN [array_to_string(tokens, ' ')] "
    "ELSE list_transform(range(1, len(tokens) - 1), "
    "i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]) END"
)

# The 8-band MinHash layout of DD._minhash_signature_rows over an
# ``sh(doc_id, shingles)`` relation: bands 0-3 are 8-hex slices of
# md5(s), bands 4-7 of md5('#' || s), and a band's signature is the
# minimum slice over the document's shingles.
BAND_SIGS_SQL = """SELECT doc_id, r.band::INT AS band,
           list_min(list_transform(shingles,
             s -> CASE WHEN r.band < 4 THEN substr(md5(s), r.band * 8 + 1, 8)
                  ELSE substr(md5('#' || s), (r.band - 4) * 8 + 1, 8) END)) AS sig
    FROM sh CROSS JOIN range(0, 8) AS r(band)"""

# TOKS_CTE plus the token-bigram graph: ``dir(src, dst)`` holds every
# pair of adjacent tokens in both directions, with multiplicity.
TOKEN_DIR_CTES = TOKS_CTE + """
    , pairs AS (
      SELECT unnest(tokens[:len(tokens)-1]) AS a, unnest(tokens[2:]) AS b
      FROM toks WHERE len(tokens) >= 2
    ), dir AS (
      SELECT a AS src, b AS dst FROM pairs
      UNION ALL SELECT b AS src, a AS dst FROM pairs
    )"""

# A candidate pair's exact shingle Jaccard (``x``/``y`` rows of ``sh``),
# rounded as DD's verify step rounds it.
JACCARD_SQL = (
    "ROUND(len(list_intersect(x.shingles, y.shingles))::DOUBLE"
    " / len(list_distinct(list_concat(x.shingles, y.shingles))), 4)"
)

# TOKS_CTE plus DD's MinHash tables: the shingle sets ``sh`` and the band
# signatures ``sigs``.
LSH_SIGS_CTES = (
    TOKS_CTE
    + f"""
    , sh AS (SELECT doc_id, list_distinct({SHINGLES_EXPR}) AS shingles FROM toks)
    , sigs AS (
      {BAND_SIGS_SQL}
    )"""
)

# LSH_SIGS_CTES plus ``sigs_ok``: the signatures whose (band, sig) bucket
# holds at most 64 docs, DD's bucket-occupancy cap.
LSH_SIGS_OK_CTES = LSH_SIGS_CTES + """
    , ok AS (
      SELECT band, sig FROM sigs GROUP BY band, sig HAVING COUNT(*) <= 64
    )
    , sigs_ok AS (SELECT s.* FROM sigs s JOIN ok USING (band, sig))"""

# Containment verification of ``cand(doc_a, doc_b)`` over ``sh``: the
# pairs whose |A∩B| / min(|A|, |B|) reaches DD's threshold, as the
# query's final SELECT.
CONTAINMENT_VERIFY_SQL = f"""
    , cont AS (
      SELECT doc_a, doc_b,
             len(list_intersect(x.shingles, y.shingles))::BIGINT AS n_inter,
             len(x.shingles)::BIGINT AS sz_a, len(y.shingles)::BIGINT AS sz_b
      FROM cand JOIN sh x ON cand.doc_a = x.doc_id
                JOIN sh y ON cand.doc_b = y.doc_id
    )
    SELECT doc_a, doc_b, n_inter, sz_a, sz_b,
           ROUND(n_inter::DOUBLE / LEAST(sz_a, sz_b), 4) AS containment
    FROM cont
    WHERE ROUND(n_inter::DOUBLE / LEAST(sz_a, sz_b), 4) >= {DD.CONTAINMENT_THRESHOLD}
    ORDER BY doc_a, doc_b
"""


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


register(
    "doc_stats_by_lang",
    """
    SELECT lang, COUNT(*)::BIGINT AS n_docs, SUM(n_chars)::BIGINT AS total_chars,
           ROUND(SUM(n_chars)::DOUBLE / COUNT(*), 2) AS avg_chars,
           MIN(n_chars)::BIGINT AS min_chars, MAX(n_chars)::BIGINT AS max_chars
    FROM documents GROUP BY lang ORDER BY lang
    """,
    tags=("T-1",),
    op=TX.doc_stats_by_lang, tables=("documents",),
)


register(
    "token_counts",
    TOKS_CTE
    + """
    SELECT doc_id, lang, len(tokens)::INT AS n_tokens,
           len(list_distinct(tokens))::INT AS n_distinct_tokens
    FROM toks ORDER BY doc_id
    """,
    tags=("T-2",),
    op=TX.token_counts, tables=("documents",),
)


register(
    "word_frequencies",
    TOKS_CTE
    + """
    SELECT word, COUNT(*)::BIGINT AS n
    FROM (SELECT unnest(tokens) AS word FROM toks)
    GROUP BY word ORDER BY n DESC, word LIMIT 50
    """,
    tags=("T-3",),
    op=partial(TX.word_frequencies, k=50), tables=("documents",),
)


register(
    "quality_scores",
    TOKS_CTE
    + """
    SELECT doc_id, lang, n_chars, len(tokens)::INT AS n_tokens,
      CASE WHEN len(tokens) > 0
           THEN ROUND(len(list_distinct(tokens))::DOUBLE / len(tokens), 4)
           ELSE 0.0::DOUBLE END AS type_token_ratio,
      CASE WHEN len(tokens) > 0
           THEN ROUND(len(list_filter(tokens, t -> t IN ('a','the')))::DOUBLE / len(tokens), 4)
           ELSE 0.0::DOUBLE END AS stopword_ratio,
      CASE WHEN len(tokens) > 0
           THEN ROUND(list_sum(list_transform(tokens, t -> length(t)))::DOUBLE / len(tokens), 4)
           ELSE 0.0::DOUBLE END AS mean_token_len
    FROM toks ORDER BY doc_id
    """,
    tags=("T-4",),
    op=TX.quality_scores, tables=("documents",),
)


register(
    "lang_id",
    TOKS_CTE
    + """
    SELECT doc_id, lang,
      len(list_filter(tokens, t -> t IN ('the','a','is','of')))::INT AS en_marker_count,
      CASE WHEN len(list_filter(tokens, t -> t IN ('the','a','is','of'))) > 0
           THEN 'en' ELSE 'unknown' END AS predicted_lang
    FROM toks ORDER BY doc_id
    """,
    tags=("T-5",),
    op=TX.lang_id, tables=("documents",),
)


register(
    "token_counts_pandas_udf",
    TOKS_CTE
    + """
    SELECT doc_id, lang, len(tokens)::INT AS n_tokens,
           len(list_distinct(tokens))::INT AS n_distinct_tokens
    FROM toks ORDER BY doc_id
    """,
    tags=("U-2",),
    op=TX.token_counts_pandas_udf, tables=("documents",),
)


register(
    "doc_length_zscores",
    """
    SELECT doc_id, lang, n_chars::BIGINT AS n_chars,
           CASE WHEN var > 0
                THEN ROUND((n_chars - mean) / SQRT(var), 4) END AS z
    FROM (
      SELECT doc_id, lang, n_chars,
             (SUM(n_chars) OVER w)::DOUBLE / (COUNT(*) OVER w) AS mean,
             (SUM(n_chars * n_chars) OVER w)::DOUBLE / (COUNT(*) OVER w)
               - ((SUM(n_chars) OVER w)::DOUBLE / (COUNT(*) OVER w))
                 * ((SUM(n_chars) OVER w)::DOUBLE / (COUNT(*) OVER w)) AS var
      FROM documents WINDOW w AS (PARTITION BY lang)
    ) ORDER BY doc_id
    """,
    tags=("U-1",),
    op=TX.doc_length_zscores, tables=("documents",),
)


register(
    "fingerprints",
    TOKS_CTE
    + """
    SELECT doc_id, md5(text) AS md5_fingerprint,
      (list_sum(list_transform(range(1, len(tokens) + 1),
        i -> ((ascii(substr(tokens[i], 1, 1)) * 31 + length(tokens[i]))
              * ((i * 2654435761) % 2147483647)) % 2147483647)) % 2147483647
        )::BIGINT AS poly_fingerprint
    FROM toks ORDER BY doc_id
    """,
    tags=("T-6",),
    op=TX.fingerprints, tables=("documents",),
)


register(
    "exact_dedup",
    """
    SELECT MIN(doc_id)::BIGINT AS doc_id, md5(text) AS content_key,
           COUNT(*)::BIGINT AS dup_count
    FROM documents GROUP BY md5(text) ORDER BY doc_id
    """,
    tags=("DD-1",),
    op=DD.exact_dedup, tables=("documents",),
)


register(
    "minhash_signatures",
    TOKS_CTE
    + f"""
    , sh AS (SELECT doc_id, {SHINGLES_EXPR} AS shingles FROM toks)
    {BAND_SIGS_SQL}
    ORDER BY doc_id, band
    """,
    tags=("DD-2",),
    op=DD.minhash_signatures, tables=("documents",),
)


register(
    "minhash_buckets",
    TOKS_CTE
    + f"""
    , sh AS (SELECT doc_id, {SHINGLES_EXPR} AS shingles FROM toks)
    , sigs AS (
      {BAND_SIGS_SQL}
    )
    SELECT band, sig, COUNT(*)::BIGINT AS n_docs,
           array_to_string(list_sort(list_distinct(list(doc_id::VARCHAR)))[1:{DD.BUCKET_CAP}], ',') AS members
    FROM sigs GROUP BY band, sig HAVING COUNT(*) > 1
    ORDER BY band, sig
    """,
    tags=("DD-2",),
    op=DD.minhash_buckets, tables=("documents",),
)


register(
    "simhash",
    TOKS_CTE
    + """
    SELECT doc_id,
      array_to_string(list_transform(range(1, 33),
        i -> CASE WHEN list_sum(list_transform(tokens,
               t -> CASE WHEN substr(md5(t), i, 1) IN
                 ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)) > 0
             THEN '1' ELSE '0' END), '') AS simhash
    FROM toks ORDER BY doc_id
    """,
    tags=("DD-3",),
    op=DD.simhash, tables=("documents",),
)


register(
    "jaccard_pairs",
    TOKS_CTE
    + """
    , base AS (
      SELECT doc_id, list_distinct(tokens) AS g
      FROM toks WHERE doc_id < 40
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           ROUND(len(list_intersect(a.g, b.g))::DOUBLE
                 / len(list_distinct(list_concat(a.g, b.g))), 4) AS jaccard
    FROM base a JOIN base b ON a.doc_id < b.doc_id
    WHERE ROUND(len(list_intersect(a.g, b.g))::DOUBLE
                / len(list_distinct(list_concat(a.g, b.g))), 4) >= 0.5
    ORDER BY doc_a, doc_b
    """,
    tags=("DD-4",),
    op=DD.jaccard_pairs, tables=("documents",),
)


# The LSH pipeline up to ``pairs(doc_a, doc_b, jaccard)``, the verified
# candidate pairs. NDP_PAIRS_CTES keeps the pairs at Jaccard >= 0.05
# (near_dup_pairs and the DD-11 calibration, which also reuses ``sigs``
# for band agreement); ND_PAIRS_CTE keeps every candidate pair.
_ND_PAIRS_SQL = (
    LSH_SIGS_OK_CTES
    + f"""
    , cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sigs_ok a JOIN sigs_ok b ON a.band = b.band AND a.sig = b.sig
      WHERE a.doc_id < b.doc_id
    )
    , pairs AS (
      SELECT doc_a, doc_b, {JACCARD_SQL} AS jaccard
      FROM cand JOIN sh x ON cand.doc_a = x.doc_id
                JOIN sh y ON cand.doc_b = y.doc_id"""
)
NDP_PAIRS_CTES = _ND_PAIRS_SQL + f"\n      WHERE {JACCARD_SQL} >= 0.05\n    )"
ND_PAIRS_CTE = _ND_PAIRS_SQL + "\n    )\n"

# Connected components of the near-dup graph at Jaccard >= 0.5, by
# recursive transitive closure: ``comp(doc_id, component)`` maps every
# doc in a pair to its component's smallest doc_id.
ND_COMPONENTS_CTES = ND_PAIRS_CTE.replace(
    "WITH toks", "WITH RECURSIVE toks", 1
) + """
    , edges AS (
      SELECT doc_a AS u, doc_b AS v FROM pairs WHERE jaccard >= 0.5
      UNION ALL
      SELECT doc_b, doc_a FROM pairs WHERE jaccard >= 0.5
    )
    , reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    )
    , comp AS (
      SELECT u AS doc_id, least(u, MIN(v)) AS component FROM reach GROUP BY u
    )"""


register(
    "near_dup_pairs",
    NDP_PAIRS_CTES
    + """
    SELECT doc_a, doc_b, jaccard FROM pairs ORDER BY doc_a, doc_b
    """,
    tags=("DD-2", "DD-4"),
    op=DD.near_dup_pairs, tables=("documents",),
)


register(
    "minhash_calibration",
    NDP_PAIRS_CTES
    + """
    , agree AS (
      SELECT p.doc_a, p.doc_b, p.jaccard,
             SUM(CASE WHEN sa.sig = sb.sig THEN 1 ELSE 0 END)::BIGINT AS n_agree
      FROM pairs p
      JOIN sigs sa ON p.doc_a = sa.doc_id
      JOIN sigs sb ON p.doc_b = sb.doc_id AND sa.band = sb.band
      GROUP BY p.doc_a, p.doc_b, p.jaccard
    )
    SELECT COUNT(*)::BIGINT AS n_pairs,
           SUM(CAST(ROUND(jaccard * 10000) AS BIGINT))::BIGINT
             / (COUNT(*) * 10000) AS avg_jaccard,
           SUM(n_agree)::BIGINT / (COUNT(*) * 8) AS avg_band_agreement,
           SUM(abs(CAST(ROUND(jaccard * 10000) AS BIGINT)
                   - 1250 * n_agree))::BIGINT
             / (COUNT(*) * 10000) AS mean_abs_gap
    FROM agree
    """,
    tags=("DD-11",),
    op=DD.minhash_calibration, tables=("documents",),
)


# --------------------------------------------------------------------------
# Similarity search over `embeddings` (§2.11)
# --------------------------------------------------------------------------

from bigdata_logs_spark.operators import similarity as SIM  # noqa: E402

# Sequential-fold dot product (mirrors similarity._dot's evaluation
# order exactly: left-to-right over dimensions).
DOT_SQL = (
    "list_sum(list_transform(range(1, len({a}) + 1), "
    "i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))"
)


def _emb(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


register(
    "embedding_norms",
    f"""
    SELECT vec_id, label,
           ROUND(SQRT({DOT_SQL.format(a='embedding', b='embedding')}), 6) AS l2_norm
    FROM embeddings ORDER BY vec_id
    """,
    tags=("E-1",),
    op=SIM.embedding_norms, tables=("embeddings",),
)


register(
    "knn_brute_force",
    f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS q_emb
      FROM embeddings WHERE vec_id < 5
    ), scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id, c.label AS neighbor_label,
             ROUND({DOT_SQL.format(a='q.q_emb', b='c.embedding')}
                   / (SQRT({DOT_SQL.format(a='q.q_emb', b='q.q_emb')})
                      * SQRT({DOT_SQL.format(a='c.embedding', b='c.embedding')})), 6)
               AS cosine
      FROM q CROSS JOIN embeddings c
      WHERE q.query_id != c.vec_id
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, rank::INT AS rank, neighbor_id, neighbor_label, cosine
    FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank
    """,
    tags=("E-2",),
    op=SIM.knn_brute_force, tables=("embeddings",),
)


register(
    "knn_label_accuracy",
    f"""
    WITH q AS (
      SELECT vec_id AS query_id, label AS true_label, embedding AS q_emb
      FROM embeddings WHERE vec_id % 8 = 0
    ), scored AS (
      SELECT q.query_id, q.true_label, c.vec_id AS neighbor_id,
             c.label AS n_label,
             ROUND({DOT_SQL.format(a='q.q_emb', b='c.embedding')}
                   / (SQRT({DOT_SQL.format(a='q.q_emb', b='q.q_emb')})
                      * SQRT({DOT_SQL.format(a='c.embedding', b='c.embedding')})), 6)
               AS cosine
      FROM q CROSS JOIN embeddings c
      WHERE q.query_id != c.vec_id
    ), knn AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
        FROM scored)
      WHERE rank <= 5
    ), votes AS (
      SELECT query_id, true_label, n_label, COUNT(*)::BIGINT AS votes
      FROM knn GROUP BY 1, 2, 3
    ), pred AS (
      SELECT query_id, true_label, n_label AS predicted_label FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY votes DESC, n_label) AS vr
        FROM votes)
      WHERE vr = 1
    )
    SELECT true_label AS label, COUNT(*)::BIGINT AS n_queries,
           SUM(CASE WHEN predicted_label = true_label
               THEN 1 ELSE 0 END)::BIGINT AS n_correct,
           ROUND(SUM(CASE WHEN predicted_label = true_label
                 THEN 1 ELSE 0 END)::DOUBLE / COUNT(*), 4) AS accuracy
    FROM pred GROUP BY 1 ORDER BY 1
    """,
    tags=("E-23",),
    op=SIM.knn_label_accuracy, tables=("embeddings",),
)


register(
    "label_cluster_quality",
    """
    WITH comps AS (
      SELECT vec_id, label,
             generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(round(unnest(embedding)::DOUBLE * 1000000.0) AS BIGINT)
               + 1000000 AS qv
      FROM embeddings
    ), cent AS (
      SELECT label, dim, SUM(qv)::BIGINT // COUNT(*)::BIGINT AS c
      FROM comps GROUP BY 1, 2
    ), d2 AS (
      SELECT comps.vec_id, comps.label,
             SUM((comps.qv - cent.c) * (comps.qv - cent.c))::BIGINT AS d2
      FROM comps JOIN cent USING (label, dim)
      GROUP BY 1, 2
    ), scat AS (
      SELECT label, COUNT(*)::BIGINT AS n_vecs,
             SUM(ROUND(SQRT(d2::DOUBLE))::BIGINT)::BIGINT AS ssum
      FROM d2 GROUP BY 1
    ), dd AS (
      SELECT i.label AS label_i, j.label AS label_j,
             SUM((i.c - j.c) * (i.c - j.c))::BIGINT AS dd2
      FROM cent i JOIN cent j USING (dim)
      WHERE i.label != j.label
      GROUP BY 1, 2
    ), rated AS (
      SELECT dd.label_i, dd.label_j, si.n_vecs AS n_i, si.ssum AS ssum_i,
             ROUND((si.ssum::DOUBLE / si.n_vecs
                    + sj.ssum::DOUBLE / sj.n_vecs)
                   / SQRT(dd.dd2::DOUBLE), 6) AS ratio
      FROM dd
      JOIN scat si ON si.label = dd.label_i
      JOIN scat sj ON sj.label = dd.label_j
    )
    SELECT label_i AS label, n_i AS n_vecs,
           ROUND(ssum_i::DOUBLE / n_i / 1000000.0::DOUBLE, 6) AS scatter,
           label_j AS nearest_label, ratio AS db_component
    FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY label_i ORDER BY ratio DESC, label_j) AS rk
      FROM rated)
    WHERE rk = 1 ORDER BY label
    """,
    tags=("E-24",),
    op=SIM.label_cluster_quality, tables=("embeddings",),
)


def _pca_oracle() -> str:
    """Unrolled power-iteration replay of SIM.pca_top_component —
    the oracle is generated by the same loop bound (PCA_ITERS) the
    Spark op uses, so the two can never drift apart on round count.
    Floor division on possibly-negative integers is written as the
    (x - pmod) / D identity on BOTH sides; ``>>`` / ``shiftright``
    floor identically on negatives (verified cross-engine).
    ``cov`` and every round's ``w{i}``/``v{i}`` are MATERIALIZED: DuckDB
    otherwise inlines each CTE at every reference, so the unrolled
    rounds recompute the covariance exponentially often."""
    from bigdata_logs_spark.operators.similarity import (
        PCA_ITERS,
        PCA_SCALE,
        PCA_SHIFT,
    )

    sql = f"""
    WITH comps AS (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(round(unnest(embedding)::DOUBLE * 1000000.0) AS BIGINT)
               + 1000000 AS qv
      FROM embeddings
    ), mean AS (
      SELECT dim, SUM(qv)::BIGINT // COUNT(*)::BIGINT AS m
      FROM comps GROUP BY 1
    ), centered AS (
      SELECT vec_id, dim, qv - m AS x FROM comps JOIN mean USING (dim)
    ), cov AS MATERIALIZED (
      SELECT a.dim AS d, b.dim AS e,
             (SUM(a.x * b.x)::BIGINT >> {PCA_SHIFT}) AS c
      FROM centered a JOIN centered b USING (vec_id)
      GROUP BY 1, 2
    ), v0 AS (
      SELECT DISTINCT d AS dim, {PCA_SCALE}::BIGINT AS v FROM cov
    )"""
    prev = "v0"
    for i in range(1, PCA_ITERS + 1):
        sql += f"""
    , w{i} AS MATERIALIZED (
      SELECT cov.d, SUM(cov.c * {prev}.v)::BIGINT AS w
      FROM cov JOIN {prev} ON {prev}.dim = cov.e GROUP BY 1
    ), m{i} AS (
      SELECT GREATEST(MAX(abs(w)) // {PCA_SCALE}, 1::BIGINT) AS dv
      FROM w{i}
    ), v{i} AS MATERIALIZED (
      SELECT w{i}.d AS dim, (w - ((w % dv) + dv) % dv) // dv AS v
      FROM w{i}, m{i}
    )"""
        prev = f"v{i}"
    sql += f"""
    , wf AS (
      SELECT cov.d, SUM(cov.c * {prev}.v)::BIGINT AS w
      FROM cov JOIN {prev} ON {prev}.dim = cov.e GROUP BY 1
    ), wsf AS (
      SELECT d, (w - ((w % {PCA_SCALE}) + {PCA_SCALE}) % {PCA_SCALE})
                // {PCA_SCALE} AS ws
      FROM wf
    ), nd AS (
      SELECT SUM(vv.v * wsf.ws)::BIGINT AS num,
             SUM(vv.v * vv.v)::BIGINT AS den
      FROM wsf JOIN {prev} vv ON vv.dim = wsf.d
    ), tr AS (
      SELECT SUM(c)::BIGINT AS tr FROM cov WHERE d = e
    ), sh AS (
      SELECT ROUND((num::DOUBLE * 1000000.0::DOUBLE / den) / tr.tr, 6)
               AS var_share
      FROM nd, tr
    )
    SELECT vv.dim, vv.v AS loading_micro,
           ROUND(vv.v::DOUBLE / 1000000.0::DOUBLE, 6) AS loading,
           sh.var_share
    FROM {prev} vv, sh ORDER BY vv.dim
    """
    return sql


register(
    "pca_top_component",
    _pca_oracle(),
    tags=("E-25",),
    op=SIM.pca_top_component, tables=("embeddings",),
)


register(
    "label_centroids",
    """
    WITH exploded AS (
      SELECT label, i - 1 AS dim,
             CAST(embedding[i]::DOUBLE AS DECIMAL(28,12)) AS xd
      FROM embeddings, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i)
    )
    SELECT label, dim::INT AS dim,
           ROUND(CAST(SUM(xd) AS DOUBLE) / COUNT(*), 6) AS centroid
    FROM exploded GROUP BY label, dim ORDER BY label, dim
    """,
    tags=("E-3",),
    op=SIM.label_centroids, tables=("embeddings",),
)


register(
    "lsh_sign_buckets",
    f"""
    WITH planes AS (
      SELECT vec_id AS plane_id, embedding AS p_emb
      FROM embeddings WHERE vec_id < 8
    ), bits AS (
      SELECT e.vec_id,
             array_to_string(list(
               CASE WHEN {DOT_SQL.format(a='e.embedding', b='p.p_emb')} > 0
                    THEN '1' ELSE '0' END ORDER BY p.plane_id), '') AS bucket
      FROM embeddings e CROSS JOIN planes p
      GROUP BY e.vec_id
    )
    SELECT bucket, COUNT(*)::BIGINT AS n_vecs, MIN(vec_id)::BIGINT AS min_vec_id
    FROM bits GROUP BY bucket ORDER BY bucket
    """,
    tags=("E-4",),
    op=SIM.lsh_sign_buckets, tables=("embeddings",),
)


register(
    "embedding_near_dup",
    f"""
    WITH n AS (
      SELECT vec_id, embedding,
             SQRT({DOT_SQL.format(a='embedding', b='embedding')}) AS nrm
      FROM embeddings
    )
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND({DOT_SQL.format(a='a.embedding', b='b.embedding')}
                 / (a.nrm * b.nrm), 6) AS cosine
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE ROUND({DOT_SQL.format(a='a.embedding', b='b.embedding')}
                / (a.nrm * b.nrm), 6) >= 0.4
    ORDER BY vec_a, vec_b
    """,
    tags=("DD-5", "E-2"),
    op=SIM.embedding_near_dup, tables=("embeddings",),
)


L2_SQL = (
    "list_sum(list_transform(range(1, len({a}) + 1), "
    "i -> ({a}[i]::DOUBLE - {b}[i]) * ({a}[i]::DOUBLE - {b}[i])))"
)

# The label centroids, IVF's coarse quantizer: ``cent(cell, cvec)``, each
# label's mean embedding rounded to 6 places. The first CTE of a WITH.
LABEL_CENTROIDS_CTES = """exploded AS (
      SELECT label, i - 1 AS dim,
             CAST(embedding[i]::DOUBLE AS DECIMAL(28,12)) AS xd
      FROM embeddings, LATERAL (SELECT unnest(range(1, len(embedding) + 1)) AS i)
    ), cent AS (
      SELECT label AS cell, list(c ORDER BY dim) AS cvec FROM (
        SELECT label, dim, ROUND(CAST(SUM(xd) AS DOUBLE) / COUNT(*), 6) AS c
        FROM exploded GROUP BY label, dim)
      GROUP BY label
    )"""


def _ivf_oracle(nprobe: int) -> str:
    """IVF-Flat oracle SQL, parameterized by nprobe (the probes CTE's
    rnk cutoff) so the E-17 sweep can instantiate several settings
    without copy drift."""
    return f"""
    WITH {LABEL_CENTROIDS_CTES}, ranked AS (
      SELECT e.vec_id, e.embedding, c.cell,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
               ROUND({L2_SQL.format(a='e.embedding', b='c.cvec')}, 6), c.cell)
               AS rnk
      FROM embeddings e CROSS JOIN cent c
    ), assign AS (
      SELECT vec_id AS neighbor_id, cell, embedding AS n_emb
      FROM ranked WHERE rnk = 1
    ), probes AS (
      SELECT vec_id AS query_id, cell, embedding AS q_emb
      FROM ranked WHERE vec_id < 5 AND rnk <= {nprobe}
    ), scored AS (
      SELECT p.query_id, a.neighbor_id, a.cell,
             ROUND({DOT_SQL.format(a='p.q_emb', b='a.n_emb')}
                   / (SQRT({DOT_SQL.format(a='p.q_emb', b='p.q_emb')})
                      * SQRT({DOT_SQL.format(a='a.n_emb', b='a.n_emb')})), 6)
               AS cosine
      FROM probes p JOIN assign a USING (cell)
      WHERE p.query_id != a.neighbor_id
    ), topk AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, rank::INT AS rank, neighbor_id, cell, cosine
    FROM topk WHERE rank <= 5
    ORDER BY query_id, rank
    """


register(
    "ann_ivf_topk",
    _ivf_oracle(nprobe=2),
    tags=("E-5",),
    op=SIM.ann_ivf_topk, tables=("embeddings",),
)


# --------------------------------------------------------------------------
# Multimodal columns (§2.11 north-star, M-1..M-3) — opaque binary
# payloads with typed metadata. Payloads derive deterministically from
# `documents` (ASCII text -> utf-8 bytes), so even the Arrow-batched
# mapInPandas fake-decode is fully oracle-checkable: DuckDB reproduces
# the byte arithmetic with ascii()/length()/md5() on the same rows.
# --------------------------------------------------------------------------

from bigdata_logs_spark.operators import multimodal as MM  # noqa: E402

MEDIA_CTE = """
WITH media AS (
  SELECT doc_id AS media_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio'
              ELSE 'video' END AS kind,
         text
  FROM documents)
"""


@register(
    "media_decode",
    MEDIA_CTE
    + """
    SELECT media_id, kind,
           length(text)::BIGINT AS n_bytes,
           ((ascii(substr(text, 1, 1)) * 256 + ascii(substr(text, 2, 1)))
             % 4096)::INT AS width,
           ((ascii(substr(text, 3, 1)) * 256 + ascii(substr(text, 4, 1)))
             % 4096)::INT AS height,
           md5(text) AS checksum
    FROM media ORDER BY media_id
    """,
    tags=("M-1",),
)
def q_media_decode(spark, sf_dir):
    """Arrow-batched mapInPandas decode over binary payloads; the
    'fake' decoder (dims from leading bytes, md5 checksum) runs the
    full batch path the real codecs would plug into."""
    media = MM.media_from_documents(_docs(spark, sf_dir))
    return MM.decode_media(media).orderBy("media_id")


@register(
    "media_stats",
    MEDIA_CTE
    + """
    SELECT kind, COUNT(*)::BIGINT AS n,
           SUM(length(text))::BIGINT AS total_bytes,
           COUNT(DISTINCT md5(text))::BIGINT AS distinct_payloads
    FROM media GROUP BY kind ORDER BY kind
    """,
    tags=("M-2",),
)
def q_media_stats(spark, sf_dir):
    """Metadata-only aggregate over the decoded view (payload column
    pruned away before the shuffle)."""
    media = MM.media_from_documents(_docs(spark, sf_dir))
    return MM.media_stats(MM.decode_media(media))


@register(
    "media_frame_offsets",
    MEDIA_CTE
    + """
    SELECT media_id,
           array_to_string(
             list_slice(range(0, length(text), 64), 1, 8), ',') AS frame_offsets
    FROM media WHERE kind = 'video' ORDER BY media_id
    """,
    tags=("M-3",),
)
def q_media_frame_offsets(spark, sf_dir):
    """Video frame-sampling plumbing: bounded per-video list of byte
    offsets a demuxer would seek to (native array expression). The
    offset list is emitted comma-joined: the driver canonicalizer
    sorts cells with pandas and dies on list-typed values, so driver-
    facing output must be scalar (same constraint media_resize solves
    with md5)."""
    from pyspark.sql import functions as F

    media = MM.media_from_documents(_docs(spark, sf_dir))
    return MM.frame_sample_offsets(media, every_n_bytes=64, max_frames=8).select(
        "media_id", F.array_join("frame_offsets", ",").alias("frame_offsets")
    )


# --------------------------------------------------------------------------
# Structured Streaming family (§2.9) — run with availableNow to a
# memory sink, so the *streaming* execution path produces the result
# the driver compares against a plain-SQL oracle.
# --------------------------------------------------------------------------

import os as _os  # noqa: E402
import tempfile as _tempfile  # noqa: E402

from bigdata_logs_spark.streaming import (  # noqa: E402
    brute_force_detector,
    read_ssh_stream,
    run_stream_to_memory,
    windowed_event_counts,
)


# Bump when synthesize_ssh_lines changes shape, so cached stream-source
# dirs from an older construction are never reused.
_STREAM_SRC_VERSION = "v1"


def _stream_source_dir(spark, sf_dir) -> str:
    """Materialize the synthesized syslog lines as a text-file
    directory (the file-tail source). The rendering is deterministic,
    so a completed dir (Spark's _SUCCESS marker) is reused instead of
    re-writing ~1M lines for every streaming query."""
    out = _scratch_path(f"bls_stream_src_{_STREAM_SRC_VERSION}", sf_dir)
    if not _os.path.exists(_os.path.join(out, "_SUCCESS")):
        synthesize_ssh_lines(load_table(spark, sf_dir, "events")).coalesce(
            4
        ).write.mode("overwrite").text(out)
    return out


def _drained_state(spark, sf_dir, fold, prefix: str) -> DataFrame:
    """Drain the SSH file stream through the streaming sketch ``fold``
    (one of ``streaming.ingest``'s ``streaming_*_state``) into a
    scratch state dir and return the drained state table."""
    state = _scratch_path(prefix, sf_dir)
    fold(read_ssh_stream(spark, _stream_source_dir(spark, sf_dir)), state)
    return spark.read.parquet(state)


def _ssh_ips(spark, sf_dir) -> DataFrame:
    """The batch-parsed SSH lines that carry a source IP: the exact
    leg beside each streaming sketch's estimate."""
    from pyspark.sql import functions as F

    return parse_ssh_lines(_ssh_lines(spark, sf_dir)).where(F.col("ip").isNotNull())


@register(
    "streaming_hourly_counts",
    SSH_PARSE_CTE
    + """
    SELECT strftime(date_trunc('hour',
             strptime('2024 ' || month || ' ' || day || ' ' || time,
                      '%Y %b %d %H:%M:%S')), '%Y-%m-%d %H:%M:%S') AS window_start,
           event, COUNT(*)::BIGINT AS n
    FROM parsed GROUP BY 1, 2 ORDER BY window_start, event
    """,
    tags=("ST-1", "ST-2"),
)
def q_streaming_hourly_counts(spark, sf_dir):
    """Tumbling-hour counts computed BY THE STREAMING ENGINE (file
    stream -> parse -> window agg -> memory sink, availableNow)."""
    from pyspark.sql import functions as F

    src = _stream_source_dir(spark, sf_dir)
    parsed = read_ssh_stream(spark, src)
    counts = windowed_event_counts(parsed, window="1 hour", watermark=None)
    name = "bls_hourly_" + _os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    run_stream_to_memory(counts, name, output_mode="complete")
    return (
        spark.table(name)
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event",
            "n",
        )
        .orderBy("window_start", "event")
    )


@register(
    "streaming_brute_force_detector",
    SSH_PARSE_CTE
    + """
    , ts_parsed AS (
      SELECT ip, strptime('2024 ' || month || ' ' || day || ' ' || time,
                          '%Y %b %d %H:%M:%S') AS ts
      FROM parsed
      WHERE event IN ('failed_password', 'invalid_user', 'auth_failure')
    )
    SELECT strftime(date_trunc('minute', ts) - TO_MINUTES(r.i::INT),
                    '%Y-%m-%d %H:%M:%S') AS window_start,
           ip, COUNT(*)::BIGINT AS failed_count
    FROM ts_parsed CROSS JOIN range(0, 10) AS r(i)
    GROUP BY 1, 2 HAVING COUNT(*) >= 2
    ORDER BY window_start, ip
    """,
    tags=("ST-3",),
)
def q_streaming_brute_force_detector(spark, sf_dir):
    """Sliding-window (10 min / 1 min) failed-login detector run on
    the streaming engine; threshold 2 at test scale."""
    from pyspark.sql import functions as F

    src = _stream_source_dir(spark, sf_dir)
    parsed = read_ssh_stream(spark, src)
    hits = brute_force_detector(
        parsed, window="10 minutes", slide="1 minute", threshold=2, watermark=None
    )
    name = "bls_bforce_" + _os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    run_stream_to_memory(hits, name, output_mode="complete")
    return (
        spark.table(name)
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "ip",
            "failed_count",
        )
        .orderBy("window_start", "ip")
    )


@register(
    "attack_sessions",
    SSH_PARSE_CTE
    + """
    , t AS (
      -- rn: a tie-break assigned ONCE and reused by BOTH windows
      -- below. Two identical failed-login lines share (ip, ts); if
      -- the lag() pass and the running-sum pass each picked their own
      -- arbitrary order among such ties, a session flag computed in
      -- one order could be summed in the other, splitting/merging
      -- sessions nondeterministically (observed at sf0.1). Among
      -- equal-ts rows the gap is 0 so the grouping itself is
      -- order-free — consistency is all that is needed.
      SELECT ip, strptime('2024 ' || month || ' ' || day || ' ' || time,
                          '%Y %b %d %H:%M:%S') AS ts,
             row_number() OVER (PARTITION BY ip, month, day, time
                                ORDER BY time) AS rn
      FROM parsed
      WHERE event IN ('failed_password', 'invalid_user', 'auth_failure')
        AND ip IS NOT NULL
    ), flagged AS (
      -- <= (inclusive): Spark MERGES adjacent sessions whose
      -- [start, start+gap) windows touch — verified empirically on
      -- 4.1.2: two events exactly gap apart yield ONE session
      -- (start t0, end t0+2*gap, n=2). A strict < here would split
      -- them and diverge from the engine at the boundary; the
      -- boundary-pair regression test in tests/test_sessions.py
      -- pins this.
      SELECT ip, ts, rn,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY ip
                                          ORDER BY ts, rn)
                       <= INTERVAL 5 MINUTE
                  THEN 0 ELSE 1 END AS new_session
      FROM t
    ), sess AS (
      SELECT ip, ts,
             SUM(new_session) OVER (PARTITION BY ip ORDER BY ts, rn
               ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    )
    SELECT ip,
           strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
           strftime(MAX(ts) + INTERVAL 5 MINUTE, '%Y-%m-%d %H:%M:%S')
             AS session_end,
           COUNT(*)::BIGINT AS n_failed
    FROM sess GROUP BY ip, session_id
    ORDER BY ip, session_start
    """,
    tags=("ST-4",),
)
def q_attack_sessions(spark, sf_dir):
    """Idle-gap attack sessions per source IP via session_window
    (5-minute gap): the stretch-goal operator from SURVEY.md §2.9.
    Native session_window (batch here; the same expression runs under
    Structured Streaming with a watermark); the oracle proves the
    semantics against a gaps-and-islands SQL formulation."""
    from pyspark.sql import functions as F

    parsed = with_event_time(parse_ssh_lines(_ssh_lines(spark, sf_dir)))
    return (
        parsed.filter(
            F.col("event").isin("failed_password", "invalid_user", "auth_failure")
            & F.col("ip").isNotNull()
        )
        .groupBy(F.session_window("ts", "5 minutes"), F.col("ip"))
        .agg(F.count(F.lit(1)).alias("n_failed"))
        .select(
            "ip",
            F.date_format(F.col("session_window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_start"
            ),
            F.date_format(F.col("session_window.end"), "yyyy-MM-dd HH:mm:ss").alias(
                "session_end"
            ),
            "n_failed",
        )
        .orderBy("ip", "session_start")
    )


@register(
    "streaming_dedup_counts",
    SSH_PARSE_CTE
    + """
    SELECT event, COUNT(DISTINCT month || '|' || day::VARCHAR || '|' || time
             || '|' || host || '|' || pid::VARCHAR || '|' || message)::BIGINT
             AS distinct_lines
    FROM parsed GROUP BY event ORDER BY event
    """,
    tags=("ST-5",),
)
def q_streaming_dedup_counts(spark, sf_dir):
    """Stateful streaming dedup (dropDuplicatesWithinWatermark on a
    line hash, bounded state): fixes the reference's
    duplicate-on-rerun append (src/insert_mongo.py:15). Runs on the
    streaming engine; the oracle is the distinct-line count per
    event."""
    from pyspark.sql import functions as F

    from bigdata_logs_spark.streaming import stream_dedup

    src = _stream_source_dir(spark, sf_dir)
    parsed = read_ssh_stream(spark, src)
    deduped = stream_dedup(parsed, watermark="1 hour")
    name = "bls_dedup_" + _os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    run_stream_to_memory(deduped, name, output_mode="append")
    return (
        spark.table(name)
        .groupBy("event")
        .agg(F.count(F.lit(1)).alias("distinct_lines"))
        .orderBy("event")
    )


# --------------------------------------------------------------------------
# Training-data pipeline ops: splits, sampling, contamination,
# simhash near-dup completion, tf-idf (§2.11)
# --------------------------------------------------------------------------

from bigdata_logs_spark.operators import pipeline as PL  # noqa: E402

# Shared hex-bucket fragment: DuckDB parses the first 8 md5 hex chars
# exactly like Spark's conv(substring(md5, 1, 8), 16, 10) (verified
# bit-identical), so split membership is cross-engine stable.
def _bucket_sql(salt: str) -> str:
    return (
        "CAST(('0x' || substring(md5('" + salt + "' || CAST(doc_id AS VARCHAR)), "
        "1, 8)) AS BIGINT) % 100"
    )


register(
    "train_val_test_split",
    f"""
    WITH b AS (
      SELECT doc_id, lang, {_bucket_sql('split:')} AS bucket FROM documents
    )
    SELECT doc_id, lang, bucket,
           CASE WHEN bucket < 10 THEN 'test'
                WHEN bucket < 20 THEN 'val'
                ELSE 'train' END AS split
    FROM b ORDER BY doc_id
    """,
    tags=("PL-1",),
    op=PL.train_val_test_split, tables=("documents",),
)


register(
    "stratified_sample",
    f"""
    WITH b AS (
      SELECT doc_id, lang, {_bucket_sql('strat:')} AS bucket FROM documents
    )
    SELECT doc_id, lang, bucket FROM b
    WHERE bucket < CASE WHEN lang = 'en' THEN 25 ELSE 50 END
    ORDER BY doc_id
    """,
    tags=("PL-2",),
    op=PL.stratified_sample, tables=("documents",),
)


# k=4 so the sf0.01 corpus yields a non-trivial overlap set; the
# production default is 8.
register(
    "contamination_check",
    TOKS_CTE
    + """
    , grams AS (
      SELECT doc_id, source,
             unnest(CASE WHEN len(tokens) < 4 THEN []::VARCHAR[]
               ELSE list_distinct(list_transform(range(1, len(tokens) - 2),
                      i -> md5(array_to_string(tokens[i:i+3], ' ')))) END) AS gram
      FROM toks
    )
    , bench AS (SELECT DISTINCT gram FROM grams WHERE source = 'src9')
    , train AS (SELECT doc_id, gram FROM grams WHERE source <> 'src9')
    SELECT doc_id, COUNT(DISTINCT gram)::BIGINT AS n_contaminated_ngrams
    FROM train JOIN bench USING (gram)
    GROUP BY doc_id ORDER BY doc_id
    """,
    tags=("PL-3",),
    op=partial(PL.contamination_check, k=4), tables=("documents",),
)


SIMHASH_SQL = """
    , sh2 AS (
      SELECT doc_id,
        array_to_string(list_transform(range(1, 33),
          i -> CASE WHEN list_sum(list_transform(tokens,
                 t -> CASE WHEN substr(md5(t), i, 1) IN
                   ('8','9','a','b','c','d','e','f') THEN 1 ELSE -1 END)) > 0
               THEN '1' ELSE '0' END), '') AS simhash
      FROM toks
    )
"""


# The oracle does the O(n^2) comparison the banding avoids.
register(
    "simhash_near_dup",
    TOKS_CTE
    + SIMHASH_SQL
    + """
    SELECT doc_a, doc_b, hamming FROM (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             list_sum(list_transform(range(1, 33),
               i -> CASE WHEN substr(a.simhash, i, 1) <> substr(b.simhash, i, 1)
                    THEN 1 ELSE 0 END))::INT AS hamming
      FROM sh2 a JOIN sh2 b ON a.doc_id < b.doc_id
    ) WHERE hamming <= 3
    ORDER BY doc_a, doc_b
    """,
    tags=("DD-3", "DD-6"),
    op=DD.simhash_near_dup, tables=("documents",),
)


register(
    "near_dup_survivors",
    ND_PAIRS_CTE
    + """
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_b FROM pairs WHERE jaccard >= 0.5)
    ORDER BY d.doc_id
    """,
    tags=("DD-2", "DD-4"),
    op=partial(DD.near_dup_survivors, threshold=0.5), tables=("documents",),
)


register(
    "tfidf_top_terms",
    TOKS_CTE
    + """
    , tok AS (SELECT doc_id, unnest(tokens) AS term FROM toks)
    , tf AS (SELECT doc_id, term, COUNT(*)::BIGINT AS tf FROM tok GROUP BY 1, 2)
    , df AS (SELECT term, COUNT(DISTINCT doc_id)::BIGINT AS df FROM tok GROUP BY 1)
    , n AS (SELECT COUNT(*)::DOUBLE AS n FROM documents)
    , scored AS (
      SELECT doc_id, term, tf, df,
             ROUND(tf::DOUBLE * ln(n.n / df::DOUBLE), 6) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
    )
    , ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY tfidf DESC, term) AS rnk
      FROM scored
    )
    SELECT doc_id, term, tf, df, tfidf, rnk
    FROM ranked WHERE rnk <= 5 ORDER BY doc_id, rnk
    """,
    tags=("T-7",),
    op=partial(TX.tfidf_top_terms, k=5), tables=("documents",),
)


# The oracle computes the same components with a recursive
# transitive-closure CTE.
register(
    "near_dup_components",
    ND_COMPONENTS_CTES
    + """
    SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
    FROM documents d LEFT JOIN comp c USING (doc_id)
    ORDER BY d.doc_id
    """,
    tags=("DD-2", "DD-4", "DD-8"),
    op=partial(DD.near_dup_components, threshold=0.5), tables=("documents",),
)


register(
    "component_size_histogram",
    ND_COMPONENTS_CTES
    + """
    , labeled AS (
      SELECT COALESCE(c.component, d.doc_id) AS component
      FROM documents d LEFT JOIN comp c USING (doc_id)
    )
    , sizes AS (
      SELECT component, COUNT(*) AS sz FROM labeled GROUP BY component
    )
    SELECT sz::BIGINT AS component_size, COUNT(*)::BIGINT AS n_components
    FROM sizes GROUP BY sz ORDER BY component_size
    """,
    tags=("DD-10",),
    op=partial(DD.component_size_histogram, threshold=0.5), tables=("documents",),
)


@register(
    "embedding_quantize",
    """
    WITH dims AS (
      SELECT generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS val
      FROM embeddings
    )
    , stats AS (
      SELECT pos, MIN(val::DOUBLE) AS mn, MAX(val::DOUBLE) AS mx
      FROM dims GROUP BY pos
    )
    , arrs AS (
      SELECT list(mn ORDER BY pos) AS mns, list(mx ORDER BY pos) AS mxs FROM stats
    )
    SELECT vec_id, label,
           array_to_string(
             list_transform(range(1, len(embedding) + 1), i ->
               CASE WHEN mxs[i] = mns[i] THEN 0
               ELSE CAST(round((embedding[i]::DOUBLE - mns[i]) * 255.0::DOUBLE
                               / (mxs[i] - mns[i])) AS INT) END), ',') AS codes
    FROM embeddings CROSS JOIN arrs
    ORDER BY vec_id
    """,
    tags=("E-6",),
)
def q_embedding_quantize(spark, sf_dir):
    """Per-dimension affine 0..255 quantization: 64-row stats agg
    broadcast back, then a narrow transform — the corpus is never
    exploded on the code path. Codes are emitted comma-joined (the
    driver canonicalizer can't hash list cells); internal consumers
    (knn_quantized) keep the array form."""
    from pyspark.sql import functions as F

    return SIM.embedding_quantize(_emb(spark, sf_dir)).select(
        "vec_id", "label", F.array_join("codes", ",").alias("codes")
    )


@register(
    "json_roundtrip",
    SSH_PARSE_CTE
    + """
    SELECT event, COUNT(*)::BIGINT AS n,
           COUNT(rhost)::BIGINT AS with_rhost,
           COUNT(DISTINCT ip)::BIGINT AS distinct_ips
    FROM parsed GROUP BY event ORDER BY event
    """,
    tags=("S-2", "S-3"),
)
def q_json_roundtrip(spark, sf_dir):
    """JSON-lines interchange fidelity (the reference's Mongo
    documents are JSON with drifted types, src/insert_mongo.py:14-15):
    write JSON -> re-read with the EXPLICIT parse schema -> aggregate;
    oracle computed from the pre-JSON rows proves losslessness."""
    from pyspark.sql import functions as F

    from bigdata_logs_spark.sources import read_json, write_json

    parsed = parse_ssh_lines(_ssh_lines(spark, sf_dir))
    out = _scratch_path("bls_json", sf_dir)
    write_json(parsed, out)
    back = read_json(spark, out, parsed.schema)
    return (
        back.groupBy("event")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("rhost").alias("with_rhost"),
            F.countDistinct("ip").alias("distinct_ips"),
        )
        .orderBy("event")
    )


@register(
    "orc_roundtrip",
    SSH_PARSE_CTE
    + """
    SELECT event, COUNT(*)::BIGINT AS n,
           COUNT(tty)::BIGINT AS with_tty,
           COUNT(DISTINCT user)::BIGINT AS distinct_users
    FROM parsed GROUP BY event ORDER BY event
    """,
    tags=("S-2", "S-3"),
)
def q_orc_roundtrip(spark, sf_dir):
    """ORC interchange fidelity: second columnar format beside the
    canonical Parquet store (schema in footer, pushdown + pruning
    intact); oracle from the pre-ORC rows proves losslessness."""
    from pyspark.sql import functions as F

    from bigdata_logs_spark.sources import read_orc, write_orc

    parsed = parse_ssh_lines(_ssh_lines(spark, sf_dir))
    out = _scratch_path("bls_orc", sf_dir)
    write_orc(parsed, out)
    back = read_orc(spark, out)
    return (
        back.groupBy("event")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.count("tty").alias("with_tty"),
            F.countDistinct("user").alias("distinct_users"),
        )
        .orderBy("event")
    )


QUANT_CTE = """
    WITH dims AS (
      SELECT generate_subscripts(embedding, 1) AS pos, unnest(embedding) AS val
      FROM embeddings
    )
    , stats AS (
      SELECT pos, MIN(val::DOUBLE) AS mn, MAX(val::DOUBLE) AS mx
      FROM dims GROUP BY pos
    )
    , arrs AS (
      SELECT list(mn ORDER BY pos) AS mns, list(mx ORDER BY pos) AS mxs FROM stats
    )
    , codes AS (
      SELECT vec_id,
             list_transform(range(1, len(embedding) + 1), i ->
               CASE WHEN mxs[i] = mns[i] THEN 0
               ELSE CAST(round((embedding[i]::DOUBLE - mns[i]) * 255.0::DOUBLE
                               / (mxs[i] - mns[i])) AS INT) END) AS q8
      FROM embeddings CROSS JOIN arrs
    )
"""

INT_DOT_SQL = (
    "list_sum(list_transform(range(1, len({a}) + 1), "
    "i -> {a}[i]::BIGINT * {b}[i]::BIGINT))"
)


register(
    "knn_quantized",
    QUANT_CTE
    + f"""
    , q AS (
      SELECT e.vec_id AS query_id, e.embedding AS q_emb, k.q8 AS q_codes
      FROM embeddings e JOIN codes k USING (vec_id) WHERE e.vec_id < 5
    )
    , cscored AS (
      SELECT q.query_id, q.q_emb, c.vec_id AS neighbor_id,
             c.label AS neighbor_label, c.embedding AS c_emb,
             {INT_DOT_SQL.format(a='q.q_codes', b='k2.q8')} AS int_score
      FROM q CROSS JOIN embeddings c JOIN codes k2 ON c.vec_id = k2.vec_id
      WHERE q.query_id != c.vec_id
    )
    , cand AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY int_score DESC, neighbor_id) AS cand_rank
      FROM cscored
    )
    , rer AS (
      SELECT query_id, neighbor_id, neighbor_label,
             ROUND({DOT_SQL.format(a='q_emb', b='c_emb')}
                   / (SQRT({DOT_SQL.format(a='q_emb', b='q_emb')})
                      * SQRT({DOT_SQL.format(a='c_emb', b='c_emb')})), 6) AS cosine
      FROM cand WHERE cand_rank <= 20
    )
    , ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      FROM rer
    )
    SELECT query_id, rank::INT AS rank, neighbor_id, neighbor_label, cosine
    FROM ranked WHERE rank <= 5
    ORDER BY query_id, rank
    """,
    tags=("E-6", "E-7"),
    op=SIM.knn_quantized, tables=("embeddings",),
)


@register(
    "streaming_stateful_alerts",
    SSH_PARSE_CTE
    + """
    SELECT ip, COUNT(*)::INT AS failed_count,
           strftime(MAX(strptime('2024 ' || month || ' ' || day || ' ' || time,
                                 '%Y %b %d %H:%M:%S')),
                    '%Y-%m-%d %H:%M:%S') AS alert_ts
    FROM parsed
    WHERE event IN ('failed_password', 'invalid_user', 'auth_failure')
      AND ip IS NOT NULL
    GROUP BY ip HAVING COUNT(*) >= 5
    ORDER BY ip
    """,
    tags=("ST-6", "U-3"),
)
def q_streaming_stateful_alerts(spark, sf_dir):
    """Custom stateful streaming operator (applyInPandasWithState):
    per-IP cumulative failed-login counter, edge-triggered alert at
    threshold crossing, processing-time state TTL. The registry
    source dir holds 4 files (< the 1000-file trigger limit), so
    availableNow runs ONE micro-batch and the alert set is provably
    the HAVING-threshold aggregate the oracle computes; multi-batch
    edge semantics are exercised in tests/test_streaming.py."""
    from pyspark.sql import functions as F

    from bigdata_logs_spark.streaming import (
        read_ssh_stream,
        run_stream_to_memory,
        stateful_alerts,
    )

    src = _stream_source_dir(spark, sf_dir)
    parsed = read_ssh_stream(spark, src)
    alerts = stateful_alerts(parsed, threshold=5)
    name = "bls_alerts_" + _os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    run_stream_to_memory(alerts, name, output_mode="append")
    return (
        spark.table(name)
        .select(
            "ip",
            "failed_count",
            F.date_format("alert_ts", "yyyy-MM-dd HH:mm:ss").alias("alert_ts"),
        )
        .orderBy("ip")
    )


@register(
    "bucketed_order_revenue",
    """
    SELECT o_orderpriority,
           SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(1.0 - l_discount AS DECIMAL(8,2)))::DOUBLE AS revenue,
           COUNT(*)::BIGINT AS n_items
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    tags=("J-11",),
)
def q_bucketed_order_revenue(spark, sf_dir):
    """Co-located fact-fact join via bucketing: orders and lineitem
    are written ONCE as 8-bucket tables hashed on the order key, so
    the join runs with no exchange on either side (the shuffle is
    paid at ingest, amortized over every subsequent query on that
    key — the strategy for fact-fact joins too big to broadcast).
    tests/test_plans.py pins the exchange-free plan."""
    from pyspark.sql import functions as F

    from bigdata_logs_spark.sources import write_bucketed

    tag = _os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    to = f"bls_orders_b_{_os.getpid()}_{tag}"
    tl = f"bls_lineitem_b_{_os.getpid()}_{tag}"
    _SCRATCH_DIRS.update(
        _os.path.join(_tempfile.gettempdir(), t) for t in (to, tl)
    )
    if not spark.catalog.tableExists(to):
        write_bucketed(
            load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority"),
            to,
            "o_orderkey",
            path=_os.path.join(_tempfile.gettempdir(), to),  # name embeds pid
        )
    if not spark.catalog.tableExists(tl):
        write_bucketed(
            load_table(spark, sf_dir, "lineitem").select(
                "l_orderkey", "l_extendedprice", "l_discount"
            ),
            tl,
            "l_orderkey",
            path=_os.path.join(_tempfile.gettempdir(), tl),
        )
    # MERGE hint: this is the fact-fact case — at scale neither side
    # broadcasts, and the bucketed layout makes the sort-merge join
    # exchange-free on both sides (the property the plan test pins).
    orders_b = spark.table(to).hint("merge")
    lineitem_b = spark.table(tl)
    rev = (
        F.col("l_extendedprice").cast("decimal(18,2)")
        * (F.lit(1.0) - F.col("l_discount")).cast("decimal(8,2)")
    )
    return (
        orders_b.join(lineitem_b, orders_b.o_orderkey == lineitem_b.l_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy("o_orderpriority")
    )


# The oracle is DuckDB's native ASOF JOIN.
register(
    "asof_last_signup_before_error",
    """
    WITH e AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
    ), s AS (
      SELECT user_id, ts, MAX(value) AS r_val
      FROM events WHERE event_type = 'signup' GROUP BY 1, 2
    )
    SELECT e.event_id, e.user_id,
           strftime(e.ts, '%Y-%m-%d %H:%M:%S') AS event_ts,
           strftime(s.ts, '%Y-%m-%d %H:%M:%S') AS asof_ts,
           s.r_val AS asof_value
    FROM e ASOF LEFT JOIN s ON e.user_id = s.user_id AND s.ts <= e.ts
    ORDER BY e.event_id
    """,
    tags=("J-9",),
    op=J.asof_last_event, tables=("events",),
)


def _parsed_store(spark, sf_dir) -> str:
    """Date-partitioned parquet store of the parsed SSH events,
    written once per sf dir and reused (deterministic contents)."""
    store = _scratch_path("bls_pstore", sf_dir)
    if not _os.path.exists(_os.path.join(store, "_SUCCESS")):
        from pyspark.sql import functions as F

        from bigdata_logs_spark.sources import write_parquet

        parsed = with_event_time(parse_ssh_lines(_ssh_lines(spark, sf_dir))).withColumn(
            "date", F.date_format("ts", "yyyy-MM-dd")
        )
        write_parquet(parsed, store, mode="overwrite", partition_by=("date",))
    return store


@register(
    "store_pruned_day",
    SSH_PARSE_CTE
    + """
    SELECT event, COUNT(*)::BIGINT AS n, COUNT(DISTINCT ip)::BIGINT AS distinct_ips
    FROM parsed
    WHERE strftime(strptime('2024 ' || month || ' ' || day || ' ' || time,
                            '%Y %b %d %H:%M:%S'), '%Y-%m-%d') = '2024-01-03'
    GROUP BY event ORDER BY event
    """,
    tags=("S-5", "S-8", "D-2"),
)
def q_store_pruned_day(spark, sf_dir):
    """Partition pruning on the canonical store: the single-day
    dashboard query reads ONE date partition, not the whole store
    (PartitionFilters in the scan — plan test pins it). At 100 TB
    this is the difference between scanning ~300 GB and scanning
    everything."""
    from pyspark.sql import functions as F

    store = _parsed_store(spark, sf_dir)
    day = spark.read.parquet(store).filter(F.col("date") == "2024-01-03")
    return (
        day.groupBy("event")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("ip").alias("distinct_ips"),
        )
        .orderBy("event")
    )


@register(
    "media_features",
    MEDIA_CTE
    + """
    SELECT media_id, kind,
           array_to_string(
             list_transform(range(0, 16), b ->
               len(list_filter(
                 list_transform(range(1, length(text) + 1),
                                i -> ascii(substr(text, i, 1))),
                 c -> c // 16 = b))::INT), ',') AS features
    FROM media ORDER BY media_id
    """,
    tags=("M-4",),
)
def q_media_features(spark, sf_dir):
    """Feature-extraction plumbing: 16-bin byte histogram per payload
    via narrow Arrow-batched mapInPandas (stand-in for CLIP/mel
    features); ASCII corpus makes the oracle byte-exact. Histogram is
    emitted comma-joined for the driver canonicalizer; the array form
    stays available to the similarity operators."""
    from pyspark.sql import functions as F

    media = MM.media_from_documents(_docs(spark, sf_dir))
    return (
        MM.extract_media_features(media)
        .select("media_id", "kind", F.array_join("features", ",").alias("features"))
        .orderBy("media_id")
    )


@register(
    "media_resize",
    MEDIA_CTE
    + """
    SELECT media_id, 8 AS out_width, 8 AS out_height,
           CASE WHEN length(text) = 0 THEN 0 ELSE 64 END::BIGINT AS out_n_bytes,
           CASE WHEN length(text) = 0 THEN md5('')
           ELSE md5(array_to_string(
             list_transform(range(0, 64),
               i -> substr(text, (i * length(text) // 64) + 1, 1)), ''))
           END AS out_checksum
    FROM media ORDER BY media_id
    """,
    tags=("M-5",),
)
def q_media_resize(spark, sf_dir):
    """Resize plumbing: nearest-neighbor byte sampling to an 8x8
    payload inside the same mapInPandas batch shape a real
    decode->resize->re-encode would use; emits md5 of the resized
    payload so the step is oracle-checkable."""
    media = MM.media_from_documents(_docs(spark, sf_dir))
    return MM.resize_media(media).orderBy("media_id")


# The oracle is the naive inequality join the bin-key pattern replaces.
register(
    "range_join_value_bands",
    """
    WITH bands(band_id, lo, hi) AS (
      VALUES (0, 0.0::DOUBLE, 75.0::DOUBLE),
             (1, 50.0::DOUBLE, 180.0::DOUBLE),
             (2, 150.0::DOUBLE, 400.0::DOUBLE),
             (3, 350.0::DOUBLE, 500.0::DOUBLE)
    )
    SELECT band_id, lo, hi, COUNT(*)::BIGINT AS n_events,
           SUM(CAST(value AS DECIMAL(18,2)))::DOUBLE AS total_value
    FROM events JOIN bands ON value >= lo AND value < hi
    GROUP BY band_id, lo, hi ORDER BY band_id
    """,
    tags=("J-10",),
    op=J.range_join_value_bands, tables=("events",),
)


register(
    "corpus_curation",
    ND_PAIRS_CTE
    + f"""
    , surv AS (
      SELECT doc_id, lang FROM documents
      WHERE doc_id NOT IN (SELECT doc_b FROM pairs WHERE jaccard >= 0.5)
    )
    , q AS (SELECT doc_id, len(tokens)::INT AS n_tokens FROM toks)
    , kept AS (
      SELECT s.doc_id, s.lang, q.n_tokens
      FROM surv s JOIN q USING (doc_id) WHERE q.n_tokens >= 5
    )
    , assigned AS (
      SELECT *, CASE WHEN {_bucket_sql('split:')} < 10 THEN 'test'
                     WHEN {_bucket_sql('split:')} < 20 THEN 'val'
                     ELSE 'train' END AS split
      FROM kept
    )
    SELECT split, lang, COUNT(*)::BIGINT AS n_docs,
           SUM(n_tokens)::BIGINT AS total_tokens
    FROM assigned GROUP BY 1, 2 ORDER BY split, lang
    """,
    tags=("PL-4", "DD-7", "T-4", "PL-1"),
    op=PL.corpus_curation, tables=("documents",),
)


@register(
    "store_dynamic_overwrite",
    """
    SELECT strftime(ts, '%Y-%m-%d') AS date,
           SUM(CASE WHEN strftime(ts, '%Y-%m-%d') <> '2024-01-03'
                      OR event_id % 2 = 0 THEN 1 ELSE 0 END)::BIGINT AS n
    FROM events
    GROUP BY 1 HAVING SUM(CASE WHEN strftime(ts, '%Y-%m-%d') <> '2024-01-03'
                      OR event_id % 2 = 0 THEN 1 ELSE 0 END) > 0
    ORDER BY date
    """,
    tags=("S-13",),
)
def q_store_dynamic_overwrite(spark, sf_dir):
    """Dynamic partition overwrite (S-13): the restate-one-day
    pattern — a backfill job rewrites ONLY the partitions it produces
    rows for (here 2024-01-03, thinned to even event ids), leaving
    every other day's files untouched. With static overwrite (the
    default) the same write would TRUNCATE THE WHOLE TABLE first —
    the classic way a backfill deletes a year of data; pinning
    ``partitionOverwriteMode=dynamic`` on the write is the contract
    this query attests. Per-day counts after the surgical rewrite
    are fully determined by construction, so the oracle reads the
    original events."""
    import os as _o

    from pyspark.sql import functions as F

    events = load_table(spark, sf_dir, "events")
    store = _scratch_path("bls_dynstore", sf_dir)
    done = _o.path.join(store, "_RESTATED")
    dated = events.withColumn("date", F.date_format("ts", "yyyy-MM-dd"))
    if not _o.path.exists(done):
        dated.write.mode("overwrite").partitionBy("date").parquet(store)
        restated = dated.filter(
            (F.col("date") == "2024-01-03") & (F.col("event_id") % 2 == 0)
        )
        # Dynamic overwrite only rewrites partitions the job EMITS:
        # an empty restatement would leave the old day's files intact
        # while the oracle's HAVING drops the day — guard so the
        # fixture assumption (the day thins but survives) is loud if
        # a future data generator ever violates it.
        if restated.limit(1).count() == 0:
            raise AssertionError(
                "store_dynamic_overwrite fixture violation: no even "
                "event_id rows on 2024-01-03 — empty dynamic "
                "overwrite would silently keep the old partition"
            )
        (
            restated.write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("date")
            .parquet(store)
        )
        with open(done, "w") as fh:
            fh.write("ok")
    return (
        spark.read.parquet(store)
        .groupBy(F.col("date").cast("string").alias("date"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("date")
    )


@register(
    "json_corrupt_handling",
    """
    SELECT SUM(CASE WHEN event_id % 10 <> 0 THEN 1 ELSE 0 END)::BIGINT
             AS n_good,
           SUM(CASE WHEN event_id % 10 = 0 THEN 1 ELSE 0 END)::BIGINT
             AS n_corrupt,
           COUNT(DISTINCT CASE WHEN event_id % 10 <> 0 THEN event_type END)
             ::BIGINT AS n_event_types
    FROM events
    """,
    tags=("S-12",),
)
def q_json_corrupt_handling(spark, sf_dir):
    """Dirty-JSONL ingestion (S-12): every 10th record is rendered as
    truncated, invalid JSON; the PERMISSIVE reader with an explicit
    schema + ``_corrupt_record`` column must quarantine exactly those
    lines and parse the rest — the contract that keeps a 100 TB feed
    flowing when a producer ships garbage (fail-fast would kill the
    job; silent DROPMALFORMED would lose the evidence). The oracle
    knows by construction which ids were corrupted."""
    import os as _o

    from pyspark.sql import functions as F

    events = load_table(spark, sf_dir, "events")
    src = _scratch_path("bls_dirtyjson", sf_dir)
    if not _o.path.exists(_o.path.join(src, "_SUCCESS")):
        good = F.to_json(F.struct("event_id", "event_type", "value"))
        corrupt = F.concat(
            F.lit('{"event_id": '),
            F.col("event_id").cast("string"),
            F.lit(', "event_type": "trunc'),
        )
        events.select(
            F.when(F.col("event_id") % 10 == 0, corrupt)
            .otherwise(good)
            .alias("value")
        ).coalesce(4).write.mode("overwrite").text(src)
    parsed = (
        spark.read.schema(
            "event_id long, event_type string, value double, _corrupt_record string"
        )
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(src)
    )
    return parsed.agg(
        F.sum(F.col("_corrupt_record").isNull().cast("long")).alias("n_good"),
        F.sum(F.col("_corrupt_record").isNotNull().cast("long")).alias(
            "n_corrupt"
        ),
        F.countDistinct(
            F.when(F.col("_corrupt_record").isNull(), F.col("event_type"))
        ).alias("n_event_types"),
    )


@register(
    "revenue_grouping_sets",
    """
    SELECT l_returnflag, l_linestatus, COUNT(*)::BIGINT AS n,
           SUM(CAST(l_extendedprice AS DECIMAL(18,2)))::DOUBLE AS revenue
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
    ORDER BY l_returnflag NULLS LAST, l_linestatus NULLS LAST
    """,
    tags=("AGG-9",),
)
def q_revenue_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (AGG-9) — the third grouping-lattice
    shape next to ROLLUP (AGG-1) and CUBE (AGG-4): exactly the
    marginals you ask for ((returnflag), (linestatus), grand total),
    one shuffle with a grouping-id column, never the full cross
    lattice. DECIMAL-accumulated revenue keeps the sum exact and
    partition-order independent."""
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.groupingSets(
            [["l_returnflag"], ["l_linestatus"], []],
            "l_returnflag",
            "l_linestatus",
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("l_extendedprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
        .orderBy(
            F.col("l_returnflag").asc_nulls_last(),
            F.col("l_linestatus").asc_nulls_last(),
        )
    )


@register(
    "event_value_cube",
    """
    SELECT event_type,
           CAST(dayofweek(ts) + 1 AS INT) AS dow,  -- Spark: 1=Sunday..7
           COUNT(*)::BIGINT AS n,
           SUM(CAST(value AS DECIMAL(18,2)))::DOUBLE AS total_value
    FROM events
    GROUP BY CUBE (event_type, CAST(dayofweek(ts) + 1 AS INT))
    ORDER BY event_type NULLS LAST, dow NULLS LAST
    """,
    tags=("AGG-4",),
)
def q_event_value_cube(spark, sf_dir):
    """CUBE grouping sets (all four aggregation granularities in one
    pass — Spark expands to a single shuffle with a grouping-id
    column, not four scans)."""
    from pyspark.sql import functions as F

    ev = _events(spark, sf_dir)
    return (
        ev.cube("event_type", F.dayofweek("ts").cast("int").alias("dow"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .orderBy(
            F.col("event_type").asc_nulls_last(), F.col("dow").asc_nulls_last()
        )
    )


def register_views(
    spark: SparkSession, sf_dir: str, names=None
) -> list[str]:
    """Expose the registry through plain SQL: each named query
    becomes a temporary view, plus one view per input table — so
    ``spark.sql("SELECT * FROM events_per_day WHERE ...")`` works
    with no Python API at all. Views are lazy plans, not
    materializations: Catalyst fuses any downstream SQL with the
    registered plan (filters still push down through the view).

    ``names`` restricts registration to a subset; by default every
    query registers (building a few of them does bounded eager work —
    streaming sinks run to completion, roundtrips write temp files)."""
    from bigdata_logs_spark.sources import TABLES as _T

    for t in _T:
        load_table(spark, sf_dir, t).createOrReplaceTempView(t)
    out = []
    for name, spec in REGISTRY.items():
        if names is not None and name not in names:
            continue
        try:
            spec.fn(spark, sf_dir).createOrReplaceTempView(name)
            out.append(name)
        except Exception:  # noqa: BLE001 — streaming sinks etc. may not view-ify
            continue
    return out


@register(
    "store_upsert",
    """
    WITH updates AS (
      SELECT event_id, ts + INTERVAL 1 HOUR AS ts, user_id, event_type,
             value + 1000.0 AS value, props
      FROM events WHERE event_id % 97 = 0
    ), unioned AS (
      SELECT *, 0 AS _src FROM events
      UNION ALL SELECT *, 1 AS _src FROM updates
    ), merged AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY event_id ORDER BY ts DESC, _src DESC) AS _rn
        FROM unioned
      ) WHERE _rn = 1
    )
    SELECT event_type, COUNT(*)::BIGINT AS n,
           SUM(CAST(value AS DECIMAL(18,2)))::DOUBLE AS total_value
    FROM merged GROUP BY event_type ORDER BY event_type
    """,
    tags=("S-9",),
)
def q_store_upsert(spark, sf_dir):
    """CDC-style keep-latest merge (the MERGE INTO inner plan on
    plain parquet): a deterministic update batch (every 97th event,
    newer ts, shifted value) upserts into the events table; the
    post-merge aggregate proves exactly the updated versions
    survived."""
    from pyspark.sql import functions as F

    from bigdata_logs_spark.sources import upsert_keep_latest

    ev = _events(spark, sf_dir)
    updates = ev.filter(F.col("event_id") % 97 == 0).select(
        "event_id",
        (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("ts"),
        "user_id",
        "event_type",
        (F.col("value") + 1000.0).alias("value"),
        "props",
    )
    merged = upsert_keep_latest(ev, updates, keys=["event_id"], order_col="ts")
    return (
        merged.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total_value"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Event-sequence analytics (engine extensions: sessionization, funnel,
# retention — W-4 / AGG-5 / AGG-6)
# --------------------------------------------------------------------------

from bigdata_logs_spark.operators import analytics as AN  # noqa: E402


register(
    "user_sessions",
    f"""
    WITH o AS (
      SELECT user_id, event_id, ts,
             {SESSION_START_SQL} AS b
      FROM events
    ), s AS (
      SELECT *, SUM(b) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_no
      FROM o
    ), ps AS (
      SELECT user_id, session_no, COUNT(*)::BIGINT AS n_events,
             (MAX(floor(epoch(ts))::BIGINT)
              - MIN(floor(epoch(ts))::BIGINT))::BIGINT AS duration_s
      FROM s GROUP BY 1, 2
    )
    SELECT user_id, COUNT(*)::BIGINT AS n_sessions,
           MAX(n_events)::BIGINT AS max_session_events,
           MAX(duration_s)::BIGINT AS max_session_duration_s
    FROM ps GROUP BY user_id ORDER BY user_id
    """,
    tags=("W-4",),
    op=AN.user_sessions, tables=("events",),
)


register(
    "funnel_conversion",
    """
    WITH f AS (
      SELECT user_id,
        MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t0,
        MIN(CASE WHEN event_type = 'click' THEN ts END) AS t1,
        MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t2
      FROM events GROUP BY user_id
    )
    SELECT COUNT(*)::BIGINT AS n_users,
      SUM((t0 IS NOT NULL)::INT)::BIGINT AS reached_signup,
      SUM((t0 IS NOT NULL AND t1 IS NOT NULL AND t1 > t0)::INT)::BIGINT
        AS reached_click,
      SUM((t0 IS NOT NULL AND t1 IS NOT NULL AND t1 > t0
           AND t2 IS NOT NULL AND t2 > t1)::INT)::BIGINT AS reached_purchase
    FROM f
    """,
    tags=("AGG-5",),
    op=AN.funnel_conversion, tables=("events",),
)


register(
    "retention_cohorts",
    """
    WITH wk AS (
      SELECT user_id, date_trunc('week', ts)::DATE AS wk FROM events
    ),
    fw AS (SELECT user_id, MIN(wk) AS cohort_raw FROM wk GROUP BY user_id)
    SELECT strftime(cohort_raw, '%Y-%m-%d') AS cohort_week,
           (date_diff('day', cohort_raw, wk.wk) / 7)::INT AS week_offset,
           COUNT(DISTINCT user_id)::BIGINT AS active_users
    FROM wk JOIN fw USING (user_id)
    GROUP BY 1, 2 ORDER BY cohort_week, week_offset
    """,
    tags=("AGG-6",),
    op=AN.retention_cohorts, tables=("events",),
)


# The oracle runs the plain join: salting must not change the answer.
register(
    "salted_join_order_priority",
    """
    SELECT o_orderpriority,
           SUM(CAST(l_extendedprice AS DECIMAL(18,2))
               * CAST(1.0 - l_discount AS DECIMAL(8,2)))::DOUBLE AS revenue,
           COUNT(*)::BIGINT AS n_items
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    tags=("SKEW-2",),
    op=J.salted_join_order_priority, tables=("orders", "lineitem"),
)


@register(
    "doc_semantic_neighbors",
    f"""
    WITH q AS (
      SELECT e.vec_id AS doc_id, e.embedding AS q_emb, d.lang AS q_lang
      FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
      WHERE e.vec_id < 5
    ), scored AS (
      SELECT q.doc_id, c.vec_id AS neighbor_doc_id, d2.lang AS neighbor_lang,
             (q.q_lang = d2.lang) AS same_lang,
             ROUND({DOT_SQL.format(a='q.q_emb', b='c.embedding')}
                   / (SQRT({DOT_SQL.format(a='q.q_emb', b='q.q_emb')})
                      * SQRT({DOT_SQL.format(a='c.embedding', b='c.embedding')})), 6)
               AS cosine
      FROM q CROSS JOIN embeddings c JOIN documents d2 ON c.vec_id = d2.doc_id
      WHERE q.doc_id != c.vec_id
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY cosine DESC, neighbor_doc_id) AS rnk
      FROM scored
    )
    SELECT doc_id, rnk::INT AS rnk, neighbor_doc_id, neighbor_lang,
           same_lang, cosine
    FROM ranked WHERE rnk <= 3
    ORDER BY doc_id, rnk
    """,
    tags=("E-2", "PL-5"),
)
def q_doc_semantic_neighbors(spark, sf_dir):
    """Cross-table composition: documents joined to their embedding
    rows (doc_id == vec_id), cosine top-3 semantic neighbors per
    query doc with language metadata — the retrieval building block
    for semantic dedup / mix balancing. Same broadcast nested-loop
    shape as knn_brute_force; the metadata joins are broadcast-hash."""
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from bigdata_logs_spark.operators.similarity import _dot

    emb = _emb(spark, sf_dir)
    docs = _docs(spark, sf_dir).select("doc_id", "lang")
    base = emb.join(docs, emb.vec_id == docs.doc_id).select(
        "vec_id", "embedding", "lang"
    )
    q = base.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("doc_id"),
        F.col("embedding").alias("q_emb"),
        F.col("lang").alias("q_lang"),
    )
    c = base.select(
        F.col("vec_id").alias("neighbor_doc_id"),
        F.col("embedding").alias("c_emb"),
        F.col("lang").alias("neighbor_lang"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("doc_id") != F.col("neighbor_doc_id"))
        .withColumn(
            "cosine",
            F.round(
                _dot("q_emb", "c_emb")
                / (F.sqrt(_dot("q_emb", "q_emb")) * F.sqrt(_dot("c_emb", "c_emb"))),
                6,
            ),
        )
        .withColumn("same_lang", F.col("q_lang") == F.col("neighbor_lang"))
    )
    w = W.partitionBy("doc_id").orderBy(F.desc("cosine"), F.asc("neighbor_doc_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "rnk", "neighbor_doc_id", "neighbor_lang", "same_lang", "cosine")
        .orderBy("doc_id", "rnk")
    )


@register(
    "bigram_frequencies",
    TOKS_CTE
    + """
    , bg AS (
      SELECT unnest(CASE WHEN len(tokens) < 2 THEN []::VARCHAR[]
        ELSE list_transform(range(1, len(tokens)),
               i -> tokens[i] || ' ' || tokens[i+1]) END) AS bigram
      FROM toks
    )
    SELECT bigram, COUNT(*)::BIGINT AS n
    FROM bg GROUP BY bigram
    ORDER BY n DESC, bigram LIMIT 30
    """,
    tags=("T-8",),
)
def q_bigram_frequencies(spark, sf_dir):
    """Corpus bigram frequency top-30 (the n-gram LM statistic):
    narrow explode of adjacent-token pairs -> map-side-combined
    count -> TakeOrdered top-k; deterministic tiebreak on the
    bigram string."""
    from pyspark.sql import functions as F

    from bigdata_logs_spark.operators.textops import with_tokens

    bigrams = F.expr(
        """
        CASE WHEN size(tokens) < 2 THEN array()
        ELSE transform(sequence(1, size(tokens) - 1),
               i -> concat_ws(' ', element_at(tokens, i), element_at(tokens, i + 1)))
        END
        """
    )
    return (
        with_tokens(_docs(spark, sf_dir))
        .select(F.explode(bigrams).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("bigram"))
        .limit(30)
    )


# --------------------------------------------------------------------------
# Round-2 additions: training-pipeline operators (SURVEY.md §2.11)
# --------------------------------------------------------------------------

PII_IPV4_SQL = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"


register(
    "repetition_scores",
    TOKS_CTE
    + """
    , tc AS (SELECT doc_id, unnest(tokens) AS tok FROM toks),
    topt AS (
      SELECT doc_id, MAX(c)::BIGINT AS top_tok_n FROM (
        SELECT doc_id, tok, COUNT(*) AS c FROM tc GROUP BY doc_id, tok)
      GROUP BY doc_id),
    base AS (
      SELECT doc_id, len(tokens)::INT AS n_tokens,
             CASE WHEN len(tokens) < 2 THEN []::VARCHAR[]
                  ELSE list_transform(range(1, len(tokens)),
                         i -> tokens[i] || ' ' || tokens[i+1]) END AS bigrams
      FROM toks)
    SELECT b.doc_id, b.n_tokens,
      CASE WHEN b.n_tokens > 0
           THEN ROUND(topt.top_tok_n::DOUBLE / b.n_tokens, 4)
           ELSE 0.0::DOUBLE END AS top_token_share,
      CASE WHEN len(bigrams) > 0
           THEN ROUND(1.0::DOUBLE
                      - len(list_distinct(bigrams))::DOUBLE / len(bigrams), 4)
           ELSE 0.0::DOUBLE END AS dup_bigram_ratio
    FROM base b LEFT JOIN topt USING (doc_id) ORDER BY doc_id
    """,
    tags=("T-9",),
    op=TX.repetition_scores, tables=("documents",),
)


register(
    "pack_token_budget",
    TOKS_CTE
    + """
    , sized AS (
      SELECT doc_id, len(tokens)::INT AS n_tokens,
             CAST(('0x' || substring(md5('pack:' || CAST(doc_id AS VARCHAR)),
                   1, 8)) AS BIGINT) % 8 AS shard
      FROM toks),
    binned AS (
      SELECT shard, doc_id, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
               AS preceding
      FROM sized)
    SELECT shard, CAST(FLOOR(preceding / 2048) AS INT) AS bin,
           COUNT(*)::BIGINT AS n_docs, SUM(n_tokens)::BIGINT AS bin_tokens
    FROM binned GROUP BY shard, bin ORDER BY shard, bin
    """,
    tags=("PL-6",),
    op=partial(PL.pack_token_budget, budget=2048, n_shards=8), tables=("documents",),
)


register(
    "source_mixing_weights",
    TOKS_CTE
    + """
    , per AS (
      SELECT source, COUNT(*)::BIGINT AS n_docs,
             SUM(len(tokens))::BIGINT AS source_tokens
      FROM toks GROUP BY source),
    tot AS (
      SELECT SUM(source_tokens)::BIGINT AS corpus_tokens,
             COUNT(*)::BIGINT AS n_sources
      FROM per)
    SELECT source, n_docs, source_tokens,
           ROUND(source_tokens / corpus_tokens, 6) AS token_share,
           ROUND((corpus_tokens / n_sources) / source_tokens, 6)
             AS sampling_weight
    FROM per CROSS JOIN tot ORDER BY source
    """,
    tags=("PL-7",),
    op=PL.source_mixing_weights, tables=("documents",),
)


@register(
    "media_content_dedup",
    MEDIA_CTE
    + """
    SELECT md5(text) AS checksum, COUNT(*)::BIGINT AS n_copies,
           MIN(media_id)::BIGINT AS canonical_media_id
    FROM media GROUP BY checksum ORDER BY checksum
    """,
    tags=("M-6", "DD-1"),
)
def q_media_content_dedup(spark, sf_dir):
    """Byte-identical media dedup by payload checksum — only
    (md5, id) pairs shuffle, blobs never cross the wire."""
    from bigdata_logs_spark.operators.multimodal import (
        media_content_dedup,
        media_from_documents,
    )

    return media_content_dedup(media_from_documents(_docs(spark, sf_dir)))


@register(
    "pii_redaction_stats",
    SSH_GEN_CTE
    + f"""
    , ips AS (
      SELECT len(regexp_extract_all(value, '{PII_IPV4_SQL}')) AS n_ips,
             regexp_extract_all(value, '{PII_IPV4_SQL}') AS ip_list
      FROM gen)
    SELECT COUNT(*)::BIGINT AS total_lines,
           SUM(CASE WHEN n_ips > 0 THEN 1 ELSE 0 END)::BIGINT AS lines_with_pii,
           SUM(n_ips)::BIGINT AS ips_redacted,
           (SELECT COUNT(DISTINCT ip)
            FROM (SELECT unnest(ip_list) AS ip FROM ips))::BIGINT AS distinct_ips
    FROM ips
    """,
    tags=("PL-8",),
)
def q_pii_redaction_stats(spark, sf_dir):
    """Corpus PII-exposure scan (IPv4 masking counters) over the raw
    syslog lines — the scrub gate before logs enter a training set."""
    from bigdata_logs_spark.operators.parse import pii_redaction_stats

    return pii_redaction_stats(_ssh_lines(spark, sf_dir))


_SEVERITY_CASE_SQL = """
    CASE event
      WHEN 'too_many_failures' THEN 'critical'
      WHEN 'ignoring_max_retries' THEN 'critical'
      WHEN 'invalid_user' THEN 'high'
      WHEN 'failed_password' THEN 'high'
      WHEN 'auth_failure' THEN 'high'
      WHEN 'failed_none' THEN 'high'
      WHEN 'connection_closed' THEN 'info'
      WHEN 'disconnect' THEN 'info'
      WHEN 'no_identification' THEN 'info'
      WHEN 'reverse_mapping_check' THEN 'info'
      ELSE 'unclassified'
    END"""


@register(
    "streaming_severity_counts",
    SSH_PARSE_CTE
    + f"""
    SELECT strftime(date_trunc('hour',
             strptime('2024 ' || month || ' ' || day || ' ' || time,
                      '%Y %b %d %H:%M:%S')), '%Y-%m-%d %H:%M:%S') AS window_start,
           {_SEVERITY_CASE_SQL} AS severity,
           COUNT(*)::BIGINT AS n
    FROM parsed GROUP BY 1, 2 ORDER BY window_start, severity
    """,
    tags=("ST-7",),
)
def q_streaming_severity_counts(spark, sf_dir):
    """Stream-static join enrichment run BY THE STREAMING ENGINE:
    the parsed stream joins the broadcast severity dim per
    micro-batch, then windows per (hour, severity). The oracle is the
    batch-equivalent CASE mapping — stream-static left join against a
    fixed dim is semantically a per-row lookup, which is what makes
    it oracle-checkable."""
    from pyspark.sql import functions as F

    from bigdata_logs_spark.streaming import severity_enriched_counts

    src = _stream_source_dir(spark, sf_dir)
    parsed = read_ssh_stream(spark, src)
    counts = severity_enriched_counts(parsed, window="1 hour", watermark=None)
    name = "bls_sev_" + _os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    run_stream_to_memory(counts, name, output_mode="complete")
    return (
        spark.table(name)
        .select(
            F.date_format(F.col("window.start"), "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "severity",
            "n",
        )
        .orderBy("window_start", "severity")
    )


# The oracle composes the two already-registered query oracles.
register(
    "ann_recall",
    f"""
    SELECT e.query_id, SUM(CASE WHEN a.neighbor_id IS NOT NULL
                                THEN 1 ELSE 0 END)::BIGINT AS n_hits,
           ROUND(SUM(CASE WHEN a.neighbor_id IS NOT NULL
                          THEN 1 ELSE 0 END)::DOUBLE / 5, 4) AS recall_at_k
    FROM ({{knn}}) e
    LEFT JOIN ({{ivf}}) a
      ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    GROUP BY e.query_id ORDER BY e.query_id
    """.format(
        knn=REGISTRY["knn_brute_force"].oracle,
        ivf=REGISTRY["ann_ivf_topk"].oracle,
    ),
    tags=("E-8",),
    op=SIM.ann_recall, tables=("embeddings",),
)


register(
    "incremental_near_dup",
    LSH_SIGS_OK_CTES
    + f"""
    , cand AS (
      SELECT DISTINCT a.doc_id AS new_doc, b.doc_id AS old_doc
      FROM sigs_ok a JOIN sigs_ok b ON a.band = b.band AND a.sig = b.sig
      JOIN documents da ON da.doc_id = a.doc_id
      JOIN documents db ON db.doc_id = b.doc_id
      WHERE da.source = 'src9' AND db.source != 'src9'
    )
    SELECT new_doc, old_doc, {JACCARD_SQL} AS jaccard
    FROM cand JOIN sh x ON cand.new_doc = x.doc_id
              JOIN sh y ON cand.old_doc = y.doc_id
    WHERE {JACCARD_SQL} >= 0.05
    ORDER BY new_doc, old_doc
    """,
    tags=("DD-9",),
    op=DD.incremental_near_dup, tables=("documents",),
)


register(
    "token_length_percentile_gate",
    TOKS_CTE
    + """
    , sized AS (SELECT len(tokens)::INT AS n_tokens FROM toks),
    b AS (
      SELECT ROUND(quantile_cont(n_tokens, 0.05), 4) AS p_lo,
             ROUND(quantile_cont(n_tokens, 0.95), 4) AS p_hi
      FROM sized)
    SELECT p_lo, p_hi,
           (SELECT COUNT(*) FROM sized)::BIGINT AS n_total,
           (SELECT COUNT(*) FROM sized, b
            WHERE n_tokens >= p_lo AND n_tokens <= p_hi)::BIGINT AS n_kept
    FROM b
    """,
    tags=("PL-9",),
    op=PL.token_length_percentile_gate, tables=("documents",),
)


@register(
    "streaming_latest_per_ip",
    SSH_PARSE_CTE
    + """
    , t AS (
      SELECT ip, strptime('2024 ' || month || ' ' || day || ' ' || time,
                          '%Y %b %d %H:%M:%S') AS ts,
             pid, message, event
      FROM parsed WHERE ip IS NOT NULL
    ), r AS (
      SELECT ip, ts, pid, event,
             ROW_NUMBER() OVER (PARTITION BY ip
               ORDER BY ts DESC, pid DESC, message DESC) AS rn
      FROM t)
    SELECT ip, strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
           pid::INT AS last_pid, event AS last_event
    FROM r WHERE rn = 1 ORDER BY ip
    """,
    tags=("ST-8", "S-9"),
)
def q_streaming_latest_per_ip(spark, sf_dir):
    """Streaming CDC keep-latest view run BY THE STREAMING ENGINE:
    per-IP argmax over a totally ordered (ts, pid, message) version
    struct, complete-mode state — the streaming twin of the batch
    store_upsert merge, batch-equivalent by construction."""
    from pyspark.sql import functions as F

    from bigdata_logs_spark.streaming import streaming_latest_per_ip

    src = _stream_source_dir(spark, sf_dir)
    parsed = read_ssh_stream(spark, src)
    latest = streaming_latest_per_ip(parsed)
    name = "bls_latest_" + _os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    run_stream_to_memory(latest, name, output_mode="complete")
    return (
        spark.table(name)
        .select(
            "ip",
            F.date_format("last_ts", "yyyy-MM-dd HH:mm:ss").alias("last_ts"),
            "last_pid",
            "last_event",
        )
        .orderBy("ip")
    )


register(
    "supplier_nation_revenue",
    f"""
    WITH sr AS (
      SELECT l_suppkey, SUM({REV_SQL}) AS rev_dec,
             COUNT(*)::BIGINT AS n_items
      FROM lineitem GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, n_name AS nation,
           CAST(rev_dec AS DOUBLE) AS revenue, n_items
    FROM sr JOIN supplier ON l_suppkey = s_suppkey
            JOIN nation ON s_nationkey = n_nationkey
    ORDER BY revenue DESC, s_suppkey LIMIT 10
    """,
    tags=("J-12",),
    op=J.supplier_nation_revenue, tables=("supplier", "nation", "lineitem"),
)


@register(
    "streaming_event_transitions",
    SSH_PARSE_CTE
    + """
    , t AS (
      SELECT ip, strptime('2024 ' || month || ' ' || day || ' ' || time,
                          '%Y %b %d %H:%M:%S') AS ts,
             pid, message, event
      FROM parsed WHERE ip IS NOT NULL
    ), lagged AS (
      SELECT ip, event,
             LAG(event) OVER (PARTITION BY ip
               ORDER BY ts, pid, message) AS prev_event
      FROM t)
    SELECT ip, prev_event, event, COUNT(*)::BIGINT AS n
    FROM lagged WHERE prev_event IS NOT NULL
    GROUP BY ip, prev_event, event
    ORDER BY ip, prev_event, event
    """,
    tags=("ST-9",),
)
def q_streaming_event_transitions(spark, sf_dir):
    """Per-IP event-transition (Markov) counts computed BY THE
    STREAMING ENGINE: ``event_transitions_state`` folds each
    micro-batch's per-IP segment summary (transition counts plus the
    first and last event key) into a parquet state, so the state's
    count rows are the final answer for any batch split or file
    arrival order; oracle is the batch lag() window."""
    from pyspark.sql import functions as F

    from bigdata_logs_spark.streaming import event_transitions_state

    src = _stream_source_dir(spark, sf_dir)
    state = _scratch_path("bls_trans_state", sf_dir)
    event_transitions_state(read_ssh_stream(spark, src), state)
    # the count rows' columns only: no schema-inference job
    return (
        spark.read.schema("ip string, prev_event string, event string, n bigint")
        .parquet(state)
        .where(F.col("n").isNotNull())
        .orderBy("ip", "prev_event", "event")
    )


@register(
    "streaming_store_etl",
    SSH_PARSE_CTE
    + """
    SELECT event, COUNT(*)::BIGINT AS n,
           COUNT(DISTINCT ip)::BIGINT AS distinct_ips
    FROM parsed GROUP BY event ORDER BY event
    """,
    tags=("ST-11", "S-4"),
)
def q_streaming_store_etl(spark, sf_dir):
    """Exactly-once streaming ETL to parquet (ST-11): the syslog
    stream lands in a columnar bronze store via the file sink's
    checkpoint + metadata-log contract. The query DRAINS TWICE on
    purpose — the second drain consumes nothing (idempotent restart),
    so the batch aggregate over the store matches the one-pass batch
    oracle exactly; duplicated delivery would double every count."""
    from pyspark.sql import functions as F

    from bigdata_logs_spark.streaming import stream_parsed_to_parquet

    src = _stream_source_dir(spark, sf_dir)
    store = _scratch_path("bls_stream_store", sf_dir)
    ckpt = _scratch_path("bls_stream_store_ckpt", sf_dir)
    parsed = read_ssh_stream(spark, src).select("ip", "event")
    stream_parsed_to_parquet(parsed, store, ckpt)
    # idempotence attestation: a restart over the same checkpoint
    # must add nothing
    stream_parsed_to_parquet(
        read_ssh_stream(spark, src).select("ip", "event"), store, ckpt
    )
    return (
        spark.read.parquet(store)
        .groupBy("event")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("ip").alias("distinct_ips"),
        )
        .orderBy("event")
    )


@register(
    "streaming_repeat_offenders",
    SSH_PARSE_CTE
    + """
    , t AS (
      SELECT ip, strptime('2024 ' || month || ' ' || day || ' ' || time,
                          '%Y %b %d %H:%M:%S') AS ts
      FROM parsed
      WHERE ip IS NOT NULL
        AND event IN ('failed_password', 'invalid_user', 'auth_failure')
    )
    SELECT f.ip, COUNT(*)::BIGINT AS n_pairs,
           CAST(MAX(r.ts) AS VARCHAR) AS last_repeat
    FROM t f JOIN t r
      ON r.ip = f.ip
     AND r.ts > f.ts AND r.ts <= f.ts + INTERVAL 24 HOUR
    GROUP BY f.ip ORDER BY f.ip
    """,
    tags=("ST-10",),
)
def q_streaming_repeat_offenders(spark, sf_dir):
    """Stream-STREAM interval self-join computed BY THE STREAMING
    ENGINE (two watermarked unbounded sides, equality + event-time
    range predicate, bounded state): each failed-auth event paired
    with the same IP's strictly-later failures within 24 h; the
    consumer aggregates the appended pairs per IP. Oracle is the
    equivalent batch self-join."""
    from pyspark.sql import functions as F

    from bigdata_logs_spark.streaming import repeat_offender_pairs

    src = _stream_source_dir(spark, sf_dir)
    parsed = read_ssh_stream(spark, src)
    pairs = repeat_offender_pairs(parsed)
    name = "bls_ro_" + _os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    run_stream_to_memory(pairs, name, output_mode="append")
    return (
        spark.table(name)
        .groupBy("ip")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.max("repeat_ts").cast("string").alias("last_repeat"),
        )
        .orderBy("ip")
    )


@register(
    "ssh_users_per_ip",
    SSH_PARSE_CTE
    + """
    , ranked AS (
      SELECT ip, user, COUNT(*)::BIGINT AS n,
             ROW_NUMBER() OVER (PARTITION BY ip
               ORDER BY COUNT(*) DESC, user) AS rnk
      FROM parsed WHERE ip IS NOT NULL AND user IS NOT NULL
      GROUP BY ip, user)
    SELECT ip, user, n, rnk::INT AS rnk
    FROM ranked WHERE rnk <= 3 ORDER BY ip, rnk
    """,
    tags=("D-46",),
)
def q_ssh_users_per_ip(spark, sf_dir):
    """Top-3 attempted users per source IP — the reference dashboard's
    per-IP "Top Users Attempted" pie (stats_dashboard.py:233) computed
    for EVERY ip at once: grouped count + windowed top-k, one shuffle
    on the (ip, user) key then one on ip."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    parsed = parse_ssh_lines(_ssh_lines(spark, sf_dir))
    counts = (
        parsed.filter(F.col("ip").isNotNull() & F.col("user").isNotNull())
        .groupBy("ip", "user")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("ip").orderBy(F.desc("n"), F.asc("user"))
    return (
        counts.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .orderBy("ip", "rnk")
    )


@register(
    "events_per_day_dense",
    """
    WITH bounds AS (
      SELECT MIN(ts::DATE) AS lo, MAX(ts::DATE) AS hi FROM events
    ), days AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS d
      FROM bounds
    ), per AS (
      SELECT ts::DATE AS d, COUNT(*)::BIGINT AS n FROM events GROUP BY 1
    )
    SELECT strftime(days.d, '%Y-%m-%d') AS date,
           COALESCE(per.n, 0)::BIGINT AS total_events
    FROM days LEFT JOIN per ON days.d = per.d
    ORDER BY date
    """,
    tags=("D-47",),
)
def q_events_per_day_dense(spark, sf_dir):
    """Gap-filled daily counts: the calendar spine is generated
    in-plan (sequence over the corpus min/max date — one tiny
    aggregate broadcast back), so charts get a continuous axis and
    downstream window math sees every day, zero-filled. No driver
    date arithmetic, no UDF."""
    from pyspark.sql import functions as F

    ev = _events(spark, sf_dir)
    bounds = ev.agg(
        F.min(F.col("ts").cast("date")).alias("lo"),
        F.max(F.col("ts").cast("date")).alias("hi"),
    )
    days = bounds.select(
        F.explode(F.sequence("lo", "hi")).alias("d")
    )
    per = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return (
        days.join(per, "d", "left")
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("date"),
            F.coalesce("n", F.lit(0)).alias("total_events"),
        )
        .orderBy("date")
    )


@register(
    "events_daily_moving_avg",
    """
    WITH per AS (
      SELECT ts::DATE AS d, COUNT(*)::BIGINT AS n FROM events GROUP BY 1
    )
    SELECT strftime(d, '%Y-%m-%d') AS date, n AS total_events,
           ROUND(AVG(n) OVER (ORDER BY d
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS avg_7d
    FROM per ORDER BY date
    """,
    tags=("W-5",),
)
def q_events_daily_moving_avg(spark, sf_dir):
    """7-day trailing moving average of daily event counts — the
    rolling-window smoother every time-series dashboard wants. Daily
    pre-aggregation reduces the corpus to one row per day BEFORE the
    window, so the unpartitioned window sorts n_days rows, not the
    corpus (the pattern that keeps global windows viable at 100 TB)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    per = (
        _events(spark, sf_dir)
        .groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.orderBy("d").rowsBetween(-6, 0)
    return (
        per.select(
            F.date_format("d", "yyyy-MM-dd").alias("date"),
            F.col("n").alias("total_events"),
            F.round(F.avg("n").over(w), 4).alias("avg_7d"),
        )
        .orderBy("date")
    )


@register(
    "qty_price_regression",
    """
    WITH m AS (
      SELECT l_returnflag,
             COUNT(*)::BIGINT AS n,
             SUM(CAST(l_quantity AS DECIMAL(12,2))) AS sx,
             SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS sy,
             SUM(CAST(l_quantity AS DECIMAL(12,2))
                 * CAST(l_extendedprice AS DECIMAL(12,2))) AS sxy,
             SUM(CAST(l_quantity AS DECIMAL(12,2))
                 * CAST(l_quantity AS DECIMAL(12,2))) AS sxx,
             SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                 * CAST(l_extendedprice AS DECIMAL(12,2))) AS syy
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, n,
           ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
             AS corr,
           ROUND((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
             AS slope,
           ROUND((CAST(sy AS DOUBLE) - ((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / (n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) * CAST(sx AS DOUBLE)) / n, 6)
             AS intercept
    FROM m ORDER BY l_returnflag
    """,
    tags=("AGG-7",),
)
def q_qty_price_regression(spark, sf_dir):
    """Per-group Pearson correlation + OLS slope/intercept of
    (quantity, extendedprice), computed from DECIMAL-accumulated
    co-moments: the five sums are EXACT (order-independent decimal
    arithmetic, so any partitioning/shuffle order gives identical
    bits) and the closed-form estimators are evaluated in double with
    operand order mirrored by the oracle. This is how distributed
    corr/regression stays hash-match deterministic — the built-in
    F.corr accumulates in float and is partition-order sensitive."""
    from pyspark.sql import functions as F

    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity").cast("decimal(12,2)")
    y = F.col("l_extendedprice").cast("decimal(12,2)")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(x).alias("sx"),
        F.sum(y).alias("sy"),
        F.sum(x * y).alias("sxy"),
        F.sum(x * x).alias("sxx"),
        F.sum(y * y).alias("syy"),
    )
    n = F.col("n")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    syy = F.col("syy").cast("double")
    cov_n = n * sxy - sx * sy
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    slope = cov_n / var_x
    return (
        m.select(
            "l_returnflag",
            "n",
            F.round(cov_n / F.sqrt(var_x * var_y), 6).alias("corr"),
            F.round(slope, 6).alias("slope"),
            F.round((sy - slope * sx) / n, 6).alias("intercept"),
        )
        .orderBy("l_returnflag")
    )


register(
    "per_source_sample",
    """
    WITH ranked AS (
      SELECT doc_id, source, lang, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
               ORDER BY md5('sample:' || doc_id::VARCHAR), doc_id) AS rnk
      FROM documents)
    SELECT doc_id, source, lang, n_chars, rnk::INT AS rnk
    FROM ranked WHERE rnk <= 5 ORDER BY source, rnk
    """,
    tags=("PL-11",),
    op=partial(PL.per_source_sample, n_per_source=5), tables=("documents",),
)


register(
    "key_skew_report",
    """
    WITH counts AS (
      SELECT l_orderkey AS key_value, COUNT(*)::BIGINT AS n_rows
      FROM lineitem GROUP BY l_orderkey),
    tot AS (SELECT SUM(n_rows) AS total_rows, COUNT(*) AS n_keys FROM counts)
    SELECT key_value::VARCHAR AS key_value, n_rows,
           ROUND(n_rows::DOUBLE / total_rows, 6) AS share,
           ROUND(n_rows::DOUBLE * n_keys / total_rows, 6) AS x_even_load
    FROM counts CROSS JOIN tot
    ORDER BY n_rows DESC, key_value LIMIT 10
    """,
    tags=("SKEW-3",),
    op=partial(PL.key_skew_report, key="l_orderkey", top=10), tables=("lineitem",),
)


register(
    "fk_orphans",
    """
    SELECT 'lineitem.l_orderkey -> orders' AS fk,
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey))::BIGINT
             AS n_orphans
    UNION ALL
    SELECT 'lineitem.l_partkey -> part',
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM part p
                              WHERE p.p_partkey = l.l_partkey))::BIGINT
    UNION ALL
    SELECT 'lineitem.l_suppkey -> supplier',
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM supplier s
                              WHERE s.s_suppkey = l.l_suppkey))::BIGINT
    UNION ALL
    SELECT 'orders.o_custkey -> customer',
           (SELECT COUNT(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))::BIGINT
    ORDER BY fk
    """,
    tags=("J-13",),
    op=J.fk_orphans, tables=("lineitem", "orders", "customer", "part", "supplier"),
)


# The exact semi join removes bloom false positives, so the oracle is
# the plain semi join.
register(
    "bloom_pruned_order_priority",
    """
    SELECT o_orderpriority, COUNT(*)::BIGINT AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
             AS total_spend
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer
                        WHERE c_mktsegment = 'BUILDING')
    GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    tags=("J-14",),
    op=J.bloom_pruned_order_priority, tables=("customer", "orders"),
)


from bigdata_logs_spark.functions import zorder_terms_sql as _zts
from bigdata_logs_spark.sources.io import ZORDER_X_SQL as _ZX
from bigdata_logs_spark.sources.io import ZORDER_Y_SQL as _ZY


@register(
    "zorder_cells",
    f"""
    SELECT (zkey >> 10) AS z_cell, COUNT(*)::BIGINT AS n_events,
           MIN(xb)::BIGINT AS min_hour_bucket,
           MAX(xb)::BIGINT AS max_hour_bucket,
           MIN(yb)::BIGINT AS min_value_bucket,
           MAX(yb)::BIGINT AS max_value_bucket
    FROM (SELECT {_zts(_ZX, _ZY)} AS zkey,
                 {_ZX} AS xb, {_ZY} AS yb FROM events)
    GROUP BY 1 ORDER BY z_cell
    """,
    tags=("S-14",),
)
def q_zorder_cells(spark, sf_dir):
    """Z-order (Morton) layout audit: per coarse z-cell, the span of
    each interleaved dimension — the numeric proof that z-sorted
    files are narrow 2-D tiles whose parquet min/max stats prune
    two-column predicates. One generator emits the interleave SQL
    for both engines (functions/columns.py: zorder_terms_sql)."""
    from bigdata_logs_spark.sources.io import zorder_cells

    return zorder_cells(_events(spark, sf_dir))


register(
    "column_profile",
    """
    SELECT * FROM (
      SELECT 'event_id' AS column_name,
             SUM(CASE WHEN event_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls,
             COUNT(DISTINCT event_id)::BIGINT AS n_distinct FROM events
      UNION ALL
      SELECT 'ts', SUM(CASE WHEN ts IS NULL THEN 1 ELSE 0 END)::BIGINT,
             COUNT(DISTINCT ts)::BIGINT FROM events
      UNION ALL
      SELECT 'user_id', SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)::BIGINT,
             COUNT(DISTINCT user_id)::BIGINT FROM events
      UNION ALL
      SELECT 'event_type', SUM(CASE WHEN event_type IS NULL THEN 1 ELSE 0 END)::BIGINT,
             COUNT(DISTINCT event_type)::BIGINT FROM events
      UNION ALL
      SELECT 'value', SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END)::BIGINT,
             COUNT(DISTINCT value)::BIGINT FROM events
      UNION ALL
      SELECT 'props', SUM(CASE WHEN props IS NULL THEN 1 ELSE 0 END)::BIGINT,
             COUNT(DISTINCT props)::BIGINT FROM events
    ) ORDER BY column_name
    """,
    tags=("D-48",),
    op=D.column_profile, tables=("events",),
)


register(
    "conversion_latency",
    """
    WITH firsts AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'signup'
                      THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS s,
             MIN(CASE WHEN event_type = 'purchase'
                      THEN CAST(floor(epoch(ts)) AS BIGINT) END) AS p
      FROM events GROUP BY user_id)
    SELECT COUNT(*)::BIGINT AS n_converted,
           ROUND(quantile_cont(p - s, 0.5), 6) AS p50_s,
           ROUND(quantile_cont(p - s, 0.9), 6) AS p90_s
    FROM firsts WHERE s IS NOT NULL AND p IS NOT NULL AND p >= s
    """,
    tags=("AGG-8",),
    op=AN.conversion_latency, tables=("events",),
)


register(
    "doc_chunks",
    TOKS_CTE
    + """
    , st AS (
      SELECT doc_id, tokens,
             generate_subscripts(starts, 1) - 1 AS chunk_no,
             unnest(starts) AS start
      FROM (
        SELECT doc_id, tokens,
               CASE WHEN len(tokens) = 0 THEN []::BIGINT[]
                    ELSE range(1, len(tokens) + 1, 12) END AS starts
        FROM toks) t)
    SELECT doc_id, chunk_no::INT AS chunk_no,
           len(list_slice(tokens, start, least(start + 15, len(tokens))))::INT
             AS n_tokens,
           md5(array_to_string(
             list_slice(tokens, start, least(start + 15, len(tokens))), ' '))
             AS chunk_md5
    FROM st ORDER BY doc_id, chunk_no
    """,
    tags=("PL-10",),
    op=partial(PL.chunk_documents, chunk_size=16, stride=12), tables=("documents",),
)


register(
    "kmeans_centroid_update",
    """
    WITH seeds AS (
      SELECT list(list_transform(embedding, x -> x::DOUBLE) ORDER BY vec_id)
               AS seeds
      FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)
    ),
    assigned AS (
      SELECT list_position(dists, list_aggregate(dists, 'min')) - 1 AS cluster,
             embedding
      FROM (
        SELECT e.embedding,
               list_transform(s.seeds, sd ->
                 list_aggregate(
                   list_transform(range(1, len(e.embedding) + 1), i ->
                     (sd[i] - e.embedding[i]::DOUBLE)
                     * (sd[i] - e.embedding[i]::DOUBLE)),
                   'sum')) AS dists
        FROM embeddings e CROSS JOIN seeds s)
    ),
    dims AS (
      SELECT cluster, generate_subscripts(embedding, 1) - 1 AS pos,
             unnest(embedding)::DOUBLE AS val
      FROM assigned
    )
    SELECT cluster::INT AS cluster, pos::INT AS pos,
           COUNT(*)::BIGINT AS n_vecs,
           ROUND(SUM(val) / COUNT(*), 6) AS mean_val
    FROM dims GROUP BY cluster, pos ORDER BY cluster, pos
    """,
    tags=("E-9",),
    op=partial(SIM.kmeans_update, k=8), tables=("embeddings",),
)


_GRAMS3_CTE = (
    TOKS_CTE
    + """
    , grams AS (
      SELECT doc_id, unnest(list_distinct(
        CASE WHEN len(tokens) < 3 THEN []::VARCHAR[]
        ELSE list_transform(range(1, len(tokens) - 1),
               i -> tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2]) END
      )) AS gram
      FROM toks)
"""
)


register(
    "boilerplate_ngrams",
    _GRAMS3_CTE
    + """
    SELECT gram, COUNT(*)::BIGINT AS df
    FROM grams GROUP BY gram HAVING COUNT(*) >= 2
    ORDER BY df DESC, gram LIMIT 50
    """,
    tags=("T-10",),
    op=partial(TX.boilerplate_ngrams, k=3, min_df=2, top=50), tables=("documents",),
)


register(
    "boilerplate_fraction",
    _GRAMS3_CTE
    + """
    , dfs AS (SELECT gram, COUNT(*) AS df FROM grams GROUP BY gram)
    , common AS (SELECT gram FROM dfs WHERE df >= 20)
    , per_doc AS (
        SELECT doc_id, COUNT(*)::BIGINT AS n_grams FROM grams GROUP BY doc_id)
    , nc AS (
        SELECT g.doc_id, COUNT(*)::BIGINT AS n_common
        FROM grams g JOIN common c USING (gram) GROUP BY g.doc_id)
    SELECT p.doc_id, p.n_grams,
           COALESCE(nc.n_common, 0)::BIGINT AS n_common,
           ROUND(COALESCE(nc.n_common, 0)::DOUBLE / p.n_grams, 4)
             AS boilerplate_frac
    FROM per_doc p LEFT JOIN nc ON p.doc_id = nc.doc_id
    ORDER BY p.doc_id
    """,
    tags=("T-11",),
    op=partial(TX.boilerplate_fraction, k=3, min_df=20), tables=("documents",),
)


from bigdata_logs_spark.operators import anomaly as AD  # noqa: E402


register(
    "hourly_event_anomalies",
    """
    WITH cells AS (
      SELECT strftime(ts, '%Y-%m-%d') AS date, hour(ts)::INT AS hour,
             COUNT(*)::BIGINT AS n
      FROM events GROUP BY 1, 2
    ), stats AS (
      SELECT *, (COUNT(*) OVER w)::BIGINT AS days,
             (SUM(n) OVER w)::BIGINT AS s,
             (SUM(n * n) OVER w)::BIGINT AS ss
      FROM cells WINDOW w AS (PARTITION BY hour)
    )
    SELECT date, hour, n,
      ROUND(s / days, 6) AS hour_mean,
      CASE WHEN days > 1 AND (ss - s * s / days) / (days - 1) > 0.0::DOUBLE
           THEN ROUND((n - s / days)
                      / sqrt((ss - s * s / days) / (days - 1)), 6) END AS zscore,
      COALESCE(
        CASE WHEN days > 1 AND (ss - s * s / days) / (days - 1) > 0.0::DOUBLE
             THEN ROUND((n - s / days)
                        / sqrt((ss - s * s / days) / (days - 1)), 6) END
        > 3.0::DOUBLE, FALSE) AS is_anomaly
    FROM stats ORDER BY date, hour
    """,
    tags=("AD-1",),
    op=AD.hourly_count_anomalies, tables=("events",),
)


@register(
    "brute_force_ips",
    SSH_FAIL_BURSTS_CTES
    + """
    SELECT ip, COUNT(*)::BIGINT AS n_failures, MAX(burst)::BIGINT AS max_burst,
           strftime(MIN(CASE WHEN burst >= 2 THEN ts END),
                    '%Y-%m-%d %H:%M:%S') AS first_burst_at,
           MAX(burst) >= 2 AS is_brute_force
    FROM bursts GROUP BY ip
    ORDER BY max_burst DESC, n_failures DESC, ip
    """,
    tags=("AD-2",),
)
def q_brute_force_ips(spark, sf_dir):
    """Batch twin of streaming_brute_force_detector: per-IP 10-minute
    sliding failed-auth burst maxima over the parsed SSH stream.

    The Spark op drops NULL-ts rows; the oracle has no equivalent
    guard because DuckDB's strptime THROWS on unparseable input
    rather than yielding NULL — on the synthesized corpus every line
    parses, so the two filters are vacuously equivalent."""
    parsed = with_event_time(parse_ssh_lines(_ssh_lines(spark, sf_dir)))
    # threshold=2: the synthetic corpus is burst-sparse (max observed
    # trailing-10-min count is 2), so the fixture-facing registration
    # lowers the gate to exercise BOTH branches of the detector; the
    # operator's production default stays at 4.
    return AD.brute_force_ips(parsed, threshold=2)


def _chi2_oracle(key: str, per_type_cte: str) -> str:
    """Shared chi-square oracle tail (mirrors
    ``operators.anomaly.chi2_drift_report``, including the
    degenerate-empty-half NULL guard) — one generator for the AD-4 /
    ST-12 twins so a fix to the arithmetic can never drift between
    them. ``per_type_cte`` must end with a CTE named ``per_type``
    exposing (key, n_first, n_second); note the first-half counter
    must use ``< split THEN 1 ELSE 0`` so a NULL timestamp counts in
    NEITHER half (the ELSE-1 form would sweep NULLs into n_first,
    diverging from the Spark ops)."""
    e_a = f"((tot_a * (n_first + n_second)) / (tot_a + tot_b))"
    e_b = f"((tot_b * (n_first + n_second)) / (tot_a + tot_b))"
    return (
        per_type_cte
        + f"""
    , tot AS (
      SELECT SUM(n_first)::BIGINT AS tot_a, SUM(n_second)::BIGINT AS tot_b
      FROM per_type
    )
    SELECT {key}, n_first, n_second,
      CASE WHEN tot_a > 0 THEN ROUND(n_first / tot_a, 6) END AS share_first,
      CASE WHEN tot_b > 0 THEN ROUND(n_second / tot_b, 6) END AS share_second,
      CASE WHEN tot_a > 0 AND tot_b > 0 THEN ROUND(
        (n_first - {e_a}) * (n_first - {e_a}) / {e_a}
        + (n_second - {e_b}) * (n_second - {e_b}) / {e_b}, 6
      ) END AS chi2_contrib
    FROM per_type CROSS JOIN tot ORDER BY {key}
    """
    )


register(
    "event_type_drift",
    _chi2_oracle(
        "event_type",
        """
    WITH per_type AS (
      SELECT event_type,
        SUM(CASE WHEN strftime(ts, '%Y-%m-%d') < '2024-01-16'
                 THEN 1 ELSE 0 END)::BIGINT AS n_first,
        SUM(CASE WHEN strftime(ts, '%Y-%m-%d') >= '2024-01-16'
                 THEN 1 ELSE 0 END)::BIGINT AS n_second
      FROM events GROUP BY event_type
    )""",
    ),
    tags=("AD-4",),
    op=AD.event_type_drift, tables=("events",),
)


register(
    "order_price_outliers",
    """
    WITH seg AS (
      SELECT c_mktsegment AS segment, o_totalprice AS price
      FROM orders JOIN customer ON o_custkey = c_custkey
    ), med AS (
      SELECT segment, quantile_cont(price, 0.5) AS med FROM seg GROUP BY segment
    ), dev AS (
      SELECT s.segment, abs(s.price - m.med) AS absdev, m.med AS med
      FROM seg s JOIN med m ON s.segment = m.segment
    ), mad AS (
      SELECT segment, quantile_cont(absdev, 0.5) AS mad FROM dev GROUP BY segment
    )
    SELECT d.segment, COUNT(*)::BIGINT AS n_orders,
           ROUND(MIN(d.med), 6) AS med_price,
           ROUND(MIN(m.mad), 6) AS mad_price,
           SUM(CASE WHEN d.absdev > 4.4478::DOUBLE * m.mad
                    THEN 1 ELSE 0 END)::BIGINT AS n_outliers
    FROM dev d JOIN mad m ON d.segment = m.segment
    GROUP BY d.segment ORDER BY d.segment
    """,
    tags=("AD-3",),
    op=AD.order_price_outliers, tables=("orders", "customer"),
)


register(
    "interarrival_stats",
    """
    WITH gaps AS (
      SELECT event_type,
             floor(epoch(ts))::BIGINT - LAG(floor(epoch(ts))::BIGINT) OVER (
               PARTITION BY event_type ORDER BY ts, event_id) AS gap_s
      FROM events
    )
    SELECT event_type, COUNT(*)::BIGINT AS n_gaps,
           MIN(gap_s)::BIGINT AS min_gap_s,
           ROUND(quantile_cont(gap_s, 0.5), 6) AS p50_gap_s,
           ROUND(quantile_cont(gap_s, 0.99), 6) AS p99_gap_s,
           MAX(gap_s)::BIGINT AS max_gap_s
    FROM gaps WHERE gap_s IS NOT NULL
    GROUP BY event_type ORDER BY event_type
    """,
    tags=("W-6",),
    op=AN.interarrival_stats, tables=("events",),
)


@register(
    "ssh_incident_report",
    SSH_FAIL_BURSTS_CTES
    + """, incidents AS (
      SELECT ip, COUNT(*)::BIGINT AS n_failures, MAX(burst)::BIGINT AS max_burst,
             strftime(MIN(CASE WHEN burst >= 2 THEN ts END),
                      '%Y-%m-%d %H:%M:%S') AS first_burst_at
      FROM bursts GROUP BY ip HAVING MAX(burst) >= 2
    ), behavior AS (
      SELECT ip, COUNT(*)::BIGINT AS n_events,
             COUNT(DISTINCT user)::BIGINT AS distinct_users,
             COUNT(DISTINCT port)::BIGINT AS distinct_ports
      FROM parsed WHERE ip IS NOT NULL GROUP BY ip
    ), top_user AS (
      SELECT ip, user AS top_user FROM (
        SELECT ip, user, ROW_NUMBER() OVER (PARTITION BY ip
          ORDER BY COUNT(*) DESC, user) AS rnk
        FROM parsed WHERE ip IS NOT NULL AND user IS NOT NULL
        GROUP BY ip, user
      ) WHERE rnk = 1
    )
    SELECT i.ip, i.n_failures, i.max_burst, i.first_burst_at,
           b.n_events, b.distinct_users, b.distinct_ports, t.top_user
    FROM incidents i
    JOIN behavior b ON i.ip = b.ip
    LEFT JOIN top_user t ON i.ip = t.ip
    ORDER BY i.max_burst DESC, i.n_failures DESC, i.ip
    """,
    tags=("AD-5",),
)
def q_ssh_incident_report(spark, sf_dir):
    """Composed incident table: flagged burst IPs × behavioral
    profile × most-attempted user (threshold=2 on the burst-sparse
    fixture, as in brute_force_ips)."""
    parsed = with_event_time(parse_ssh_lines(_ssh_lines(spark, sf_dir)))
    return AD.ssh_incident_report(parsed, threshold=2)


PHASH_ORACLE_CTE = """
WITH base AS (
  SELECT doc_id AS media_id, text, length(text) AS n FROM documents
), codes AS (
  SELECT media_id, n,
    CASE WHEN n = 0 THEN NULL
         ELSE list_transform(range(0, 64),
                i -> ascii(substr(text, (i * n // 64) + 1, 1))) END AS cs
  FROM base
), hashed AS (
  SELECT media_id,
    CASE WHEN cs IS NULL THEN NULL
         ELSE list_transform(range(0, 64),
                i -> CASE WHEN 64 * cs[i + 1] > list_sum(cs)::BIGINT
                     THEN 1 ELSE 0 END) END AS bits
  FROM codes
), bands AS (
  SELECT media_id,
    CASE WHEN bits IS NULL THEN NULL ELSE list_sum(list_transform(range(0, 16),
      t -> bits[t + 1] << t))::INT END AS b0,
    CASE WHEN bits IS NULL THEN NULL ELSE list_sum(list_transform(range(0, 16),
      t -> bits[16 + t + 1] << t))::INT END AS b1,
    CASE WHEN bits IS NULL THEN NULL ELSE list_sum(list_transform(range(0, 16),
      t -> bits[32 + t + 1] << t))::INT END AS b2,
    CASE WHEN bits IS NULL THEN NULL ELSE list_sum(list_transform(range(0, 16),
      t -> bits[48 + t + 1] << t))::INT END AS b3
  FROM hashed
)"""


@register(
    "media_phash",
    PHASH_ORACLE_CTE
    + """
    SELECT media_id, b0, b1, b2, b3 FROM bands ORDER BY media_id
    """,
    tags=("M-7",),
)
def q_media_phash(spark, sf_dir):
    """Perceptual aHash bands per media payload (Arrow mapInPandas;
    exact integer construction mirrored by the oracle over the
    text-derived media fixture)."""
    return MM.perceptual_hashes(
        MM.media_from_documents(_docs(spark, sf_dir))
    ).orderBy("media_id")


@register(
    "media_perceptual_dedup",
    PHASH_ORACLE_CTE
    + """
    , pairs AS (
      SELECT DISTINCT l.media_id AS media_a, r.media_id AS media_b
      FROM (SELECT media_id, j.band, CASE j.band WHEN 0 THEN b0 WHEN 1 THEN b1
                   WHEN 2 THEN b2 ELSE b3 END AS val
            FROM bands, (SELECT unnest(range(0, 4)) AS band) j
            WHERE b0 IS NOT NULL) l
      JOIN (SELECT media_id, j.band, CASE j.band WHEN 0 THEN b0 WHEN 1 THEN b1
                   WHEN 2 THEN b2 ELSE b3 END AS val
            FROM bands, (SELECT unnest(range(0, 4)) AS band) j
            WHERE b0 IS NOT NULL) r
        ON l.band = r.band AND l.val = r.val AND l.media_id < r.media_id
    )
    SELECT p.media_a, p.media_b,
           (bit_count(xor(a.b0::BIGINT, b.b0::BIGINT))
            + bit_count(xor(a.b1::BIGINT, b.b1::BIGINT))
            + bit_count(xor(a.b2::BIGINT, b.b2::BIGINT))
            + bit_count(xor(a.b3::BIGINT, b.b3::BIGINT)))::INT AS hamming
    FROM pairs p
    JOIN bands a ON p.media_a = a.media_id
    JOIN bands b ON p.media_b = b.media_id
    WHERE (bit_count(xor(a.b0::BIGINT, b.b0::BIGINT))
           + bit_count(xor(a.b1::BIGINT, b.b1::BIGINT))
           + bit_count(xor(a.b2::BIGINT, b.b2::BIGINT))
           + bit_count(xor(a.b3::BIGINT, b.b3::BIGINT))) <= 8
    ORDER BY media_a, media_b
    """,
    tags=("M-7",),
)
def q_media_perceptual_dedup(spark, sf_dir):
    """Banded-LSH candidate pairs + exact 64-bit Hamming verify over
    the perceptual hashes — the media tier of the dedup ladder
    (byte-exact ``media_content_dedup`` first, this for re-encodes
    and near-identical payloads)."""
    return MM.media_perceptual_dedup(
        MM.media_from_documents(_docs(spark, sf_dir))
    )


@register(
    "rollup_incremental_maintenance",
    """
    SELECT strftime(ts, '%Y-%m-%d') AS date, event_type,
           COUNT(*)::BIGINT AS n,
           SUM(CAST(value AS DECIMAL(18,2)))::DOUBLE AS total_value
    FROM events GROUP BY 1, 2 ORDER BY date, event_type
    """,
    tags=("S-15",),
)
def q_rollup_incremental_maintenance(spark, sf_dir):
    """S-15: materialized-rollup maintenance — the historical day×type
    rollup is written to the store ONCE (decimal partials), then an
    append delta (the last week) is aggregated to the same grain and
    combined grain-wise. Per refresh the work is O(|delta|+|rollup|),
    never O(|history|). The oracle is the FULL recompute over all of
    events: proving combine(stored partials, delta partials) equals
    it is exactly the associativity the pattern rests on."""
    from pyspark.sql import functions as F

    from bigdata_logs_spark.sources import (
        daily_rollup_partials,
        incremental_rollup_update,
        write_parquet,
    )

    ev = _events(spark, sf_dir)
    cutoff = "2024-01-25"
    date = F.date_format("ts", "yyyy-MM-dd")
    path = _scratch_path("bls_rollup", sf_dir)
    import os as _o

    if not _o.path.exists(_o.path.join(path, "_SUCCESS")):
        write_parquet(
            daily_rollup_partials(ev.filter(date < cutoff)),
            path,
            mode="overwrite",
        )
    stored = spark.read.parquet(path)
    merged = incremental_rollup_update(stored, ev.filter(date >= cutoff))
    return merged.select(
        "date",
        "event_type",
        "n",
        F.col("value_partial").cast("double").alias("total_value"),
    ).orderBy("date", "event_type")


register(
    "value_median_pandas_agg",
    """
    SELECT event_type, ROUND(quantile_cont(value, 0.5), 6) AS p50
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    tags=("U-4",),
    op=D.value_median_pandas_agg, tables=("events",),
)


register(
    "props_typed_extract",
    """
    SELECT event_type,
           COUNT(CAST(json_extract_string(props, '$.k') AS INT))::BIGINT
             AS n_with_k,
           SUM(CAST(json_extract_string(props, '$.k') AS INT))::BIGINT
             AS sum_k,
           MIN(CAST(json_extract_string(props, '$.k') AS INT))::INT AS min_k,
           MAX(CAST(json_extract_string(props, '$.k') AS INT))::INT AS max_k
    FROM events GROUP BY event_type ORDER BY event_type
    """,
    tags=("F-2",),
    op=D.props_typed_extract, tables=("events",),
)


@register(
    "store_time_travel",
    """
    WITH updates AS (
      SELECT event_id, ts + INTERVAL 1 HOUR AS ts, user_id, event_type,
             value + 1000.0 AS value, props
      FROM events WHERE event_id % 97 = 0
    ), unioned AS (
      SELECT *, 0 AS _src FROM events
      UNION ALL SELECT *, 1 AS _src FROM updates
    ), v2 AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY event_id ORDER BY ts DESC, _src DESC) AS _rn
        FROM unioned
      ) WHERE _rn = 1
    ), agg1 AS (
      SELECT event_type, COUNT(*)::BIGINT AS n_v1,
             SUM(CAST(value AS DECIMAL(18,2)))::DOUBLE AS total_v1
      FROM events GROUP BY event_type
    ), agg2 AS (
      SELECT event_type, COUNT(*)::BIGINT AS n_latest,
             SUM(CAST(value AS DECIMAL(18,2)))::DOUBLE AS total_latest
      FROM v2 GROUP BY event_type
    )
    SELECT a.event_type, n_v1, total_v1, n_latest, total_latest
    FROM agg1 a JOIN agg2 b ON a.event_type = b.event_type
    ORDER BY a.event_type
    """,
    tags=("S-16",),
)
def q_store_time_travel(spark, sf_dir):
    """S-16: snapshot versioning / time travel on the parquet store —
    version 1 is the raw events table, version 2 applies the S-9 CDC
    batch; the query reads BOTH versions back (v1 pinned, latest
    resolved) and aggregates them side by side. Green hash == the
    pinned version is bit-stable after later writes (reproducible
    reads), and the latest pointer resolves through the _SUCCESS
    commit gate. The oracle recomputes both versions from the raw
    table."""
    from pyspark.sql import functions as F

    from bigdata_logs_spark.sources import (
        read_versioned,
        upsert_keep_latest,
        write_versioned,
    )

    ev = _events(spark, sf_dir)
    path = _scratch_path("bls_versioned", sf_dir)
    import os as _o

    if not _o.path.isdir(_o.path.join(path, "v=2")):
        write_versioned(ev, path)
        updates = ev.filter(F.col("event_id") % 97 == 0).select(
            "event_id",
            (F.col("ts") + F.expr("INTERVAL 1 HOUR")).alias("ts"),
            "user_id",
            "event_type",
            (F.col("value") + 1000.0).alias("value"),
            "props",
        )
        write_versioned(
            upsert_keep_latest(ev, updates, ["event_id"], "ts"), path
        )

    def agg(df, n_name, t_name):
        return df.groupBy("event_type").agg(
            F.count(F.lit(1)).alias(n_name),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias(t_name),
        )

    v1 = agg(read_versioned(spark, path, version=1), "n_v1", "total_v1")
    latest = agg(read_versioned(spark, path), "n_latest", "total_latest")
    return (
        v1.join(latest, "event_type")
        .select("event_type", "n_v1", "total_v1", "n_latest", "total_latest")
        .orderBy("event_type")
    )


register(
    "corpus_manifest",
    TOKS_CTE
    + """
    SELECT source, lang, COUNT(*)::BIGINT AS n_docs,
           SUM(n_chars)::BIGINT AS n_chars,
           SUM(len(tokens))::BIGINT AS n_tokens,
           MIN(doc_id)::BIGINT AS min_doc_id,
           MAX(doc_id)::BIGINT AS max_doc_id,
           bit_xor(('0x' || substr(md5(text), 1, 8))::BIGINT)
             AS content_fingerprint
    FROM toks GROUP BY source, lang ORDER BY source, lang
    """,
    tags=("PL-12",),
    op=PL.corpus_manifest, tables=("documents",),
)


@register(
    "streaming_event_drift",
    _chi2_oracle(
        "event",
        SSH_PARSE_CTE
        + """
    , per_type AS (
      SELECT event,
        SUM(CASE WHEN strftime(strptime('2024 ' || month || ' ' || day || ' '
                                        || time, '%Y %b %d %H:%M:%S'),
                               '%Y-%m-%d') < '2024-01-16'
                 THEN 1 ELSE 0 END)::BIGINT AS n_first,
        SUM(CASE WHEN strftime(strptime('2024 ' || month || ' ' || day || ' '
                                        || time, '%Y %b %d %H:%M:%S'),
                               '%Y-%m-%d') >= '2024-01-16'
                 THEN 1 ELSE 0 END)::BIGINT AS n_second
      FROM parsed GROUP BY event
    )""",
    ),
    tags=("ST-12",),
)
def q_streaming_event_drift(spark, sf_dir):
    """ST-12: the drift monitor's streaming leg — the engine maintains
    the (event, n_first, n_second) contingency state incrementally
    (complete mode, availableNow drain), then the chi-square tail runs
    over the k-row sink. Full SQL oracle: with every available file
    drained, the sink equals the batch contingency exactly, so this is
    one of the few ST entries with a value-hash check."""
    from bigdata_logs_spark.operators.anomaly import chi2_drift_report
    from bigdata_logs_spark.streaming import event_drift_counts

    src = _stream_source_dir(spark, sf_dir)
    parsed = read_ssh_stream(spark, src)
    counts = event_drift_counts(parsed)
    name = "bls_drift_" + _os.path.basename(sf_dir.rstrip("/")).replace(".", "_")
    run_stream_to_memory(counts, name, output_mode="complete")
    return chi2_drift_report(spark.table(name), key_col="event")


register(
    "commonness_scores",
    TOKS_CTE
    + """
    , tok AS (SELECT doc_id, unnest(tokens) AS token FROM toks)
    , vocab AS (SELECT token, COUNT(*)::BIGINT AS cnt FROM tok GROUP BY token)
    , tot AS (SELECT SUM(cnt)::BIGINT AS corpus_total FROM vocab)
    , per_doc AS (
      SELECT doc_id, COUNT(*)::BIGINT AS n_tokens,
             SUM(cnt)::BIGINT AS sum_counts
      FROM tok JOIN vocab USING (token) GROUP BY doc_id
    )
    SELECT doc_id, n_tokens,
           sum_counts / (n_tokens * corpus_total) AS commonness
    FROM per_doc CROSS JOIN tot ORDER BY doc_id
    """,
    tags=("T-12",),
    op=TX.commonness_scores, tables=("documents",),
)


def _rp_oracle(d_out: int = 8) -> str:
    projs = ",\n      ".join(
        f"list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i]"
        f" * (1 - 2 * (((i * 2654435761 + {j} * 40503) % 2147483647) % 2))"
        f"))::BIGINT / 1000000.0::DOUBLE AS proj_{j}"
        for j in range(1, d_out + 1)
    )
    return f"""
    WITH q AS (
      SELECT vec_id, label,
        list_transform(embedding,
          x -> CAST(round(x::DOUBLE * 1000000.0::DOUBLE) AS BIGINT)) AS qv
      FROM embeddings
    )
    SELECT vec_id, label,
      {projs}
    FROM q ORDER BY vec_id
    """


register(
    "embedding_random_projection",
    _rp_oracle(),
    tags=("E-10",),
    op=SIM.random_projection, tables=("embeddings",),
)


register(
    "rare_transitions",
    """
    WITH bigrams AS (
      SELECT event_type AS prev_type,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      FROM events
    ), counts AS (
      SELECT prev_type, next_type, COUNT(*)::BIGINT AS n
      FROM bigrams WHERE next_type IS NOT NULL
      GROUP BY prev_type, next_type
    )
    SELECT prev_type, next_type, n,
           ROUND(n::DOUBLE / (SUM(n) OVER (PARTITION BY prev_type))::BIGINT, 6)
             AS prob,
           (n::DOUBLE / (SUM(n) OVER (PARTITION BY prev_type))::BIGINT) < 0.05
             AS is_rare
    FROM counts ORDER BY prev_type, next_type
    """,
    tags=("AD-6",),
    op=AD.rare_transitions, tables=("events",),
)


register(
    "user_activity_deciles",
    """
    WITH per_user AS (
      SELECT user_id, COUNT(*)::BIGINT AS n_events
      FROM events WHERE user_id IS NOT NULL GROUP BY user_id
    ), tiled AS (
      SELECT *, NTILE(10) OVER (ORDER BY n_events, user_id) AS decile
      FROM per_user
    )
    SELECT decile::INT AS decile, COUNT(*)::BIGINT AS n_users,
           MIN(n_events) AS min_events, MAX(n_events) AS max_events,
           SUM(n_events)::BIGINT AS total_events
    FROM tiled GROUP BY decile ORDER BY decile
    """,
    tags=("W-7",),
    op=AN.user_activity_deciles, tables=("events",),
)


register(
    "ngram_novelty",
    _GRAMS3_CTE
    + """
    , owners AS (
      SELECT gram, MIN(doc_id) AS first_doc FROM grams GROUP BY gram)
    SELECT g.doc_id, COUNT(*)::BIGINT AS n_grams,
           SUM(CASE WHEN o.first_doc = g.doc_id THEN 1 ELSE 0 END)::BIGINT
             AS n_novel,
           ROUND(SUM(CASE WHEN o.first_doc = g.doc_id THEN 1 ELSE 0 END)::DOUBLE
                 / COUNT(*), 4) AS novel_frac
    FROM grams g JOIN owners o USING (gram)
    GROUP BY g.doc_id ORDER BY g.doc_id
    """,
    tags=("T-13",),
    op=partial(TX.ngram_novelty, k=3), tables=("documents",),
)


register(
    "pair_similarity_histogram",
    f"""
    WITH cells AS (
      SELECT vec_id, embedding,
             ((vec_id * 2654435761) % 2147483647) % 16 AS cell,
             SQRT({DOT_SQL.format(a='embedding', b='embedding')}) AS norm
      FROM embeddings
    ), pairs AS (
      SELECT FLOOR(ROUND({DOT_SQL.format(a='a.embedding', b='b.embedding')}
                   / (a.norm * b.norm), 6) / 0.1::DOUBLE)::INT AS bin
      FROM cells a JOIN cells b
        ON a.cell = b.cell AND a.vec_id < b.vec_id
    )
    SELECT bin, ROUND(bin * 0.1::DOUBLE, 6) AS cos_lo, COUNT(*)::BIGINT AS n_pairs
    FROM pairs GROUP BY bin ORDER BY bin
    """,
    tags=("E-11",),
    op=partial(SIM.pair_similarity_histogram, n_cells=16), tables=("embeddings",),
)


register(
    "doc_ngrams_udtf",
    TOKS_CTE
    + """
    , g AS (
      SELECT doc_id, i - 1 AS pos,
             tokens[i] || ' ' || tokens[i+1] || ' ' || tokens[i+2] AS gram
      FROM toks, LATERAL (SELECT unnest(range(1, len(tokens) - 1)) AS i)
      WHERE doc_id < 50 AND len(tokens) >= 3)
    SELECT doc_id, pos::INT AS pos, gram FROM g ORDER BY doc_id, pos
    """,
    tags=("U-5",),
    op=partial(TX.ngram_rows_udtf, k=3, max_doc_id=50), tables=("documents",),
)


register(
    "daily_value_rank",
    """
    WITH cells AS (
      SELECT event_type, strftime(ts, '%Y-%m-%d') AS date,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS day_value
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, date, day_value,
           ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 6) AS cume_dist
    FROM cells
    WINDOW w AS (PARTITION BY event_type ORDER BY day_value, date)
    ORDER BY event_type, date
    """,
    tags=("W-8",),
    op=AN.daily_value_rank, tables=("events",),
)


register(
    "leakage_safe_split",
    ND_COMPONENTS_CTES
    + """
    , labeled AS (
      SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
      FROM documents d LEFT JOIN comp c USING (doc_id)
    )
    , bucketed AS (
      SELECT doc_id, component,
             CAST(('0x' || substring(
               md5('split:' || CAST(component AS VARCHAR)), 1, 8)) AS BIGINT)
               % 100 AS bucket
      FROM labeled
    )
    SELECT doc_id, component, bucket,
           CASE WHEN bucket < 10 THEN 'test'
                WHEN bucket < 20 THEN 'val'
                ELSE 'train' END AS split
    FROM bucketed ORDER BY doc_id
    """,
    tags=("PL-13",),
    op=PL.leakage_safe_split, tables=("documents",),
)


register(
    "source_vocab_overlap",
    TOKS_CTE
    + """
    , vocab AS (
      SELECT DISTINCT source, unnest(tokens) AS token FROM toks
    ), sizes AS (
      SELECT source, COUNT(*)::BIGINT AS n FROM vocab GROUP BY source
    ), common AS (
      SELECT a.source AS source_a, b.source AS source_b,
             COUNT(*)::BIGINT AS n_common
      FROM vocab a JOIN vocab b
        ON a.token = b.token AND a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b, sa.n AS n_a, sb.n AS n_b, n_common,
           ROUND(n_common::DOUBLE / (sa.n + sb.n - n_common), 6)
             AS vocab_jaccard
    FROM common
    JOIN sizes sa ON sa.source = source_a
    JOIN sizes sb ON sb.source = source_b
    ORDER BY source_a, source_b
    """,
    tags=("T-14",),
    op=TX.source_vocab_overlap, tables=("documents",),
)


register(
    "centroid_confusion",
    f"""
    WITH {LABEL_CENTROIDS_CTES}, assigned AS (
      SELECT e.vec_id, e.label, c.cell,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
               ROUND({L2_SQL.format(a='e.embedding', b='c.cvec')}, 6), c.cell)
               AS rnk
      FROM embeddings e CROSS JOIN cent c
    ), m AS (
      SELECT label, cell AS predicted, COUNT(*)::BIGINT AS n
      FROM assigned WHERE rnk = 1 GROUP BY 1, 2
    )
    SELECT label, predicted, n,
           ROUND((SUM(CASE WHEN label = predicted THEN n ELSE 0 END)
                    OVER (PARTITION BY label))::BIGINT
                 / (SUM(n) OVER (PARTITION BY label))::BIGINT, 6)
             AS label_accuracy
    FROM m ORDER BY label, predicted
    """,
    tags=("E-12",),
    op=SIM.centroid_classification_report, tables=("embeddings",),
)


register(
    "funnel_coverage_audit",
    """
    WITH s AS (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'signup'
    ), p AS (
      SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'
    ), j AS (
      SELECT s.user_id AS su, p.user_id AS pu
      FROM s FULL OUTER JOIN p ON s.user_id = p.user_id
    )
    SELECT CASE WHEN su IS NOT NULL AND pu IS NOT NULL THEN 'both'
                WHEN su IS NOT NULL THEN 'signup_only'
                ELSE 'purchase_only' END AS coverage,
           COUNT(*)::BIGINT AS n_users
    FROM j GROUP BY 1 ORDER BY coverage
    """,
    tags=("J-15",),
    op=J.funnel_coverage_audit, tables=("events",),
)


register(
    "ewma_daily_counts",
    """
    WITH cells AS (
      SELECT event_type, strftime(ts, '%Y-%m-%d') AS date,
             COUNT(*)::BIGINT AS n
      FROM events GROUP BY 1, 2
    ), pre AS (
      SELECT event_type, date, n,
             list(n) OVER (PARTITION BY event_type ORDER BY date
                           ROWS UNBOUNDED PRECEDING) AS prefix
      FROM cells
    )
    SELECT event_type, date, n,
           ROUND(list_reduce(list_transform(prefix, v -> v::DOUBLE),
                             (acc, v) -> acc / 2::DOUBLE + v), 6) AS ewma
    FROM pre ORDER BY event_type, date
    """,
    tags=("AD-7",),
    op=AD.ewma_daily_counts, tables=("events",),
)


from bigdata_logs_spark.operators import graph as G  # noqa: E402

# One damped-PageRank Jacobi step at fixed point (SCALE=1e6, d=0.85):
# per-edge contributions floored to BIGINT *before* the incoming sum,
# so both engines reduce exact integers (no float sum-order drift).
_PAGERANK_STEP = """
  SELECT n.token, (150000 + FLOOR(0.85::DOUBLE * COALESCE(s.c, 0)))::BIGINT AS r
  FROM nodes n LEFT JOIN (
    SELECT g.dst AS token,
           SUM((FLOOR(g.w * p.r / g.ow))::BIGINT)::BIGINT AS c
    FROM g JOIN {prev} p ON p.token = g.src GROUP BY 1
  ) s ON s.token = n.token
"""


register(
    "textrank_keywords",
    TOKEN_DIR_CTES
    + """, edges AS (
      SELECT src, dst, COUNT(*)::BIGINT AS w FROM dir GROUP BY 1, 2
    ), outw AS (
      SELECT src, SUM(w)::BIGINT AS ow FROM edges GROUP BY 1
    ), g AS (
      SELECT e.src, e.dst, e.w, o.ow FROM edges e JOIN outw o USING (src)
    ), nodes AS (
      SELECT DISTINCT src AS token FROM edges
    ), r0 AS (
      SELECT token, 1000000::BIGINT AS r FROM nodes
    ), r1 AS ("""
    + _PAGERANK_STEP.format(prev="r0")
    + "), r2 AS ("
    + _PAGERANK_STEP.format(prev="r1")
    + "), r3 AS ("
    + _PAGERANK_STEP.format(prev="r2")
    + """)
    SELECT token, r AS rank_scaled FROM r3
    ORDER BY rank_scaled DESC, token LIMIT 25
    """,
    tags=("G-1",),
    op=G.textrank_keywords, tables=("documents",),
)


from bigdata_logs_spark.operators import sketches as SK  # noqa: E402

# SK's HyperLogLog in SQL: a register's rank from the low bits ``w`` of a
# hash, the raw harmonic-mean estimate from ``z_present``/``m_present``
# (fixed-point sum and count of the non-empty registers), and the
# estimate with SK's small-range (linear counting) correction, from
# ``raw`` and the empty-register count ``v``.
HLL_RHO_SQL = (
    f"CASE WHEN w = 0 THEN {SK.HLL_RHO_MAX}"
    f" ELSE {SK.HLL_RHO_MAX} - length(bin(w)) END"
)
HLL_RAW_SQL = (
    f"{SK.HLL_ALPHA}::DOUBLE * {SK.HLL_M * SK.HLL_M} * {SK.HLL_ZSCALE}"
    f" / (z_present + ({SK.HLL_M} - m_present) * {SK.HLL_ZSCALE})"
)
HLL_ESTIMATE_SQL = (
    f"ROUND(CASE WHEN raw <= {2.5 * SK.HLL_M}::DOUBLE AND v > 0"
    f" THEN {float(SK.HLL_M)}::DOUBLE * ln({float(SK.HLL_M)}::DOUBLE / v)"
    " ELSE raw END, 4)"
)


# The sketch hashes are explicit integer arithmetic, so the oracle
# replays them exactly.
register(
    "cms_heavy_hitters",
    TOKS_CTE
    + """
    , words AS (SELECT unnest(tokens) AS token FROM toks),
    counts AS (
      SELECT token, COUNT(*)::BIGINT AS exact_count FROM words GROUP BY 1
    ), hashed AS (
      SELECT token, exact_count,
             list_reduce(list_transform(range(1, length(token) + 1),
                         i -> ascii(substr(token, i, 1))::BIGINT),
                         (acc, c) -> (acc * 31 + c) % 1000000007) AS h
      FROM counts
    ), cells AS (
      SELECT token, exact_count, j.x AS row,
             ((h * CASE j.x WHEN 0 THEN 3 WHEN 1 THEN 5 WHEN 2 THEN 7 ELSE 11 END
               + CASE j.x WHEN 0 THEN 17 WHEN 1 THEN 29 WHEN 2 THEN 41 ELSE 53 END)
              % 1000000007) % 128 AS bucket
      FROM hashed, (SELECT unnest(range(0, 4)) AS x) j
    ), counters AS (
      SELECT row, bucket, SUM(exact_count)::BIGINT AS counter
      FROM cells GROUP BY 1, 2
    ), estimates AS (
      SELECT c.token, c.exact_count, MIN(k.counter)::BIGINT AS cms_estimate
      FROM cells c JOIN counters k ON k.row = c.row AND k.bucket = c.bucket
      GROUP BY 1, 2
    )
    SELECT token, exact_count, cms_estimate,
           (cms_estimate - exact_count)::BIGINT AS overestimate
    FROM estimates ORDER BY exact_count DESC, token LIMIT 20
    """,
    tags=("SK-1",),
    op=SK.cms_heavy_hitters, tables=("documents",),
)


register(
    "vocab_growth",
    TOKS_CTE
    + """
    , base AS (
      SELECT ROW_NUMBER() OVER (ORDER BY doc_id) AS rn, tokens FROM toks
    ), nn AS (SELECT MAX(rn) AS n FROM base),
    b2 AS (
      SELECT rn, tokens, LEAST(((rn + 49) // 50) * 50, n)::BIGINT AS ck
      FROM base, nn
    ), toks_in AS (
      SELECT ck, SUM(len(tokens))::BIGINT AS toks FROM b2 GROUP BY 1
    ), firsts AS (
      SELECT LEAST(((frn + 49) // 50) * 50, n)::BIGINT AS ck,
             COUNT(*)::BIGINT AS new_terms
      FROM (
        SELECT MIN(rn) AS frn
        FROM (SELECT rn, unnest(tokens) AS token FROM base) GROUP BY token
      ), nn GROUP BY 1
    ), series AS (
      SELECT COALESCE(t.ck, f.ck) AS ck, COALESCE(t.toks, 0) AS toks,
             COALESCE(f.new_terms, 0) AS new_terms
      FROM toks_in t FULL OUTER JOIN firsts f ON t.ck = f.ck
    )
    SELECT ck AS docs_seen,
           (SUM(toks) OVER (ORDER BY ck))::BIGINT AS total_tokens,
           (SUM(new_terms) OVER (ORDER BY ck))::BIGINT AS vocab_size
    FROM series ORDER BY docs_seen
    """,
    tags=("T-16",),
    op=TX.vocab_growth, tables=("documents",),
)


def _pq_oracle_cols() -> str:
    """Per-subspace PQ distance/code/distortion SQL columns (lateral
    aliases), mirroring ``similarity._pq_dists_expr`` op-for-op."""
    cols = []
    for s in range(4):
        off = s * 16
        cols.append(
            f"""
            list_transform(s.seeds, c -> list_aggregate(
              list_transform(range(1, 17), i ->
                (c[{off} + i] - e.embedding[{off} + i]::DOUBLE)
                * (c[{off} + i] - e.embedding[{off} + i]::DOUBLE)),
              'sum')) AS d{s},
            (list_position(d{s}, list_aggregate(d{s}, 'min')) - 1)::INT
              AS code_{s},
            list_aggregate(d{s}, 'min') AS dist_{s}"""
        )
    return ",".join(cols)


_PQ_ASSIGNED_CTE = f"""
    WITH seeds AS (
      SELECT list(list_transform(embedding, x -> x::DOUBLE) ORDER BY vec_id)
               AS seeds
      FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 8)
    ), assigned AS (
      SELECT e.vec_id, {_pq_oracle_cols()}
      FROM embeddings e CROSS JOIN seeds s
    )"""


register(
    "pq_codes",
    _PQ_ASSIGNED_CTE
    + """
    SELECT vec_id, code_0, code_1, code_2, code_3
    FROM assigned ORDER BY vec_id
    """,
    tags=("E-13",),
    op=SIM.pq_codes, tables=("embeddings",),
)


register(
    "pq_distortion",
    _PQ_ASSIGNED_CTE
    + """
    , legs AS (
      SELECT 0 AS subspace, code_0 AS code, dist_0 AS dist FROM assigned
      UNION ALL SELECT 1, code_1, dist_1 FROM assigned
      UNION ALL SELECT 2, code_2, dist_2 FROM assigned
      UNION ALL SELECT 3, code_3, dist_3 FROM assigned
    )
    SELECT subspace::INT AS subspace, code, COUNT(*)::BIGINT AS n_vecs,
           ROUND(SUM(dist) / COUNT(*), 6) AS mean_sq_dist
    FROM legs GROUP BY subspace, code ORDER BY subspace, code
    """,
    tags=("E-14",),
    op=SIM.pq_distortion, tables=("embeddings",),
)


register(
    "curriculum_phases",
    TOKS_CTE
    + """
    , base AS (SELECT doc_id, len(tokens)::INT AS n_tokens FROM toks),
    ranked AS (
      SELECT doc_id, n_tokens,
             NTILE(4) OVER (ORDER BY n_tokens, doc_id) AS phase
      FROM base
    )
    SELECT doc_id, n_tokens, phase::INT AS phase,
           ROW_NUMBER() OVER (
             PARTITION BY phase ORDER BY md5(doc_id::VARCHAR), doc_id
           )::INT AS phase_rank
    FROM ranked ORDER BY phase, phase_rank
    """,
    tags=("PL-14",),
    op=PL.curriculum_phases, tables=("documents",),
)


register(
    "zipf_fit",
    TOKS_CTE
    + """
    , freqs AS (
      SELECT lang, token, COUNT(*)::BIGINT AS cnt
      FROM (SELECT lang, unnest(tokens) AS token FROM toks) GROUP BY 1, 2
    ), ranked AS (
      SELECT lang, token, cnt,
             ROW_NUMBER() OVER (PARTITION BY lang
                                ORDER BY cnt DESC, token) AS rank
      FROM freqs
    ), q AS (
      SELECT lang, ROUND(ln(rank::DOUBLE) * 1000000.0::DOUBLE)::BIGINT AS x,
             ROUND(ln(cnt::DOUBLE) * 1000000.0::DOUBLE)::BIGINT AS y
      FROM ranked WHERE rank <= 100
    ), m AS (
      SELECT lang, COUNT(*)::BIGINT AS n_terms, SUM(x)::BIGINT AS sx,
             SUM(y)::BIGINT AS sy, SUM(x * y)::BIGINT AS sxy,
             SUM(x * x)::BIGINT AS sxx
      FROM q GROUP BY 1
    )
    SELECT lang, n_terms,
           CASE WHEN n_terms > 1 THEN
             ROUND((n_terms * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                   / (n_terms * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE), 4)
           END AS zipf_slope
    FROM m ORDER BY lang
    """,
    tags=("T-17",),
    op=TX.zipf_fit, tables=("documents",),
)


register(
    "kmv_distinct",
    f"""
    WITH hashed AS (
      SELECT DISTINCT event_type,
             ('0x' || substr(md5(user_id::VARCHAR), 1, 13))::BIGINT AS h
      FROM events WHERE user_id IS NOT NULL
    ), sk AS (
      SELECT event_type, MAX(h) AS kth, COUNT(*)::BIGINT AS n_in_sketch
      FROM (
        SELECT event_type, h,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn
        FROM hashed
      ) WHERE rn <= {SK.KMV_K} GROUP BY 1
    ), exact AS (
      SELECT event_type, COUNT(DISTINCT user_id)::BIGINT AS n_exact
      FROM events GROUP BY 1
    )
    SELECT s.event_type, e.n_exact,
           CASE WHEN s.n_in_sketch < {SK.KMV_K} THEN s.n_in_sketch::DOUBLE
                ELSE ROUND({SK.KMV_NUMERATOR}.0::DOUBLE / s.kth, 4)
           END AS kmv_estimate,
           ROUND((kmv_estimate - e.n_exact) / e.n_exact, 4) AS rel_error
    FROM sk s JOIN exact e USING (event_type) ORDER BY event_type
    """,
    tags=("SK-2",),
    op=SK.kmv_distinct, tables=("events",),
)


def _pq_lut_oracle_cols() -> str:
    cols = []
    for s in range(4):
        off = s * 16
        cols.append(
            f"""
            list_transform(s.seeds, c -> list_aggregate(
              list_transform(range(1, 17), i ->
                (c[{off} + i] - q[{off} + i]) * (c[{off} + i] - q[{off} + i])),
              'sum')) AS lut{s}"""
        )
    return ",".join(cols)


register(
    "pq_adc_topk",
    _PQ_ASSIGNED_CTE
    + f"""
    , query AS (
      SELECT list_transform(embedding, x -> x::DOUBLE) AS q
      FROM embeddings ORDER BY vec_id LIMIT 1
    ), lut AS (
      SELECT {_pq_lut_oracle_cols()} FROM seeds s, query
    )
    SELECT a.vec_id,
           ROUND(lut0[code_0 + 1] + lut1[code_1 + 1]
                 + lut2[code_2 + 1] + lut3[code_3 + 1], 6) AS adc_sq_dist
    FROM assigned a, lut
    ORDER BY adc_sq_dist, vec_id LIMIT 10
    """,
    tags=("E-15",),
    op=SIM.pq_adc_topk, tables=("embeddings",),
)


@register(
    "ssh_account_clusters",
    SSH_PARSE_CTE.replace("WITH gen", "WITH RECURSIVE gen", 1)
    + """
    , ue AS (
      SELECT DISTINCT "user" AS u, ip FROM parsed
      WHERE event IN ('failed_password', 'invalid_user', 'auth_failure')
        AND "user" IS NOT NULL AND ip IS NOT NULL
    ), adj AS (
      SELECT DISTINCT a.u AS u, b.u AS v FROM ue a JOIN ue b ON a.ip = b.ip
    ), reach(u, v) AS (
      SELECT u, v FROM adj
      UNION
      SELECT r.u, a.v FROM reach r JOIN adj a ON r.v = a.u
    )
    SELECT u AS "user", LEAST(u, MIN(v)) AS cluster
    FROM reach GROUP BY u ORDER BY "user"
    """,
    tags=("G-2",),
)
def q_ssh_account_clusters(spark, sf_dir):
    """G-2 shared-IP account clustering: connected components on the
    bipartite user<->IP failed-auth graph via min-label propagation
    THROUGH the IP nodes (hub IPs cost |edges| per round, never the
    one-mode user-user pair explosion the oracle's recursive
    self-join adjacency materializes at its small scale)."""
    return G.account_clusters(parse_ssh_lines(_ssh_lines(spark, sf_dir)))


register(
    "embedding_truncation_fidelity",
    """
    WITH en AS (
      SELECT vec_id,
             list_aggregate(list_transform(embedding,
               x -> x::DOUBLE * x::DOUBLE), 'sum') AS fe,
             list_aggregate(list_transform(embedding[1:8],
               x -> x::DOUBLE * x::DOUBLE), 'sum') AS pe8,
             list_aggregate(list_transform(embedding[1:16],
               x -> x::DOUBLE * x::DOUBLE), 'sum') AS pe16,
             list_aggregate(list_transform(embedding[1:32],
               x -> x::DOUBLE * x::DOUBLE), 'sum') AS pe32
      FROM embeddings
    ), legs AS (
      SELECT 8 AS trunc_dim, sqrt(pe8 / fe) AS c FROM en WHERE fe > 0
      UNION ALL SELECT 16, sqrt(pe16 / fe) FROM en WHERE fe > 0
      UNION ALL SELECT 32, sqrt(pe32 / fe) FROM en WHERE fe > 0
    )
    SELECT trunc_dim::INT AS trunc_dim, COUNT(*)::BIGINT AS n_vecs,
           ROUND(SUM(c) / COUNT(*), 6) AS mean_cos,
           ROUND(MIN(c), 6) AS min_cos
    FROM legs GROUP BY trunc_dim ORDER BY trunc_dim
    """,
    tags=("E-16",),
    op=SIM.truncation_fidelity, tables=("embeddings",),
)


@register(
    "streaming_kmv_distinct",
    SSH_PARSE_CTE
    + f"""
    , hashed AS (
      SELECT DISTINCT event, ('0x' || substr(md5(ip), 1, 13))::BIGINT AS h
      FROM parsed WHERE ip IS NOT NULL
    ), sk AS (
      SELECT event, MAX(h) AS kth, COUNT(*)::BIGINT AS n_in_sketch
      FROM (
        SELECT event, h,
               ROW_NUMBER() OVER (PARTITION BY event ORDER BY h) AS rn
        FROM hashed
      ) WHERE rn <= {SK.KMV_K} GROUP BY 1
    )
    SELECT event, n_in_sketch,
           CASE WHEN n_in_sketch < {SK.KMV_K} THEN n_in_sketch::DOUBLE
                ELSE ROUND({SK.KMV_NUMERATOR}.0::DOUBLE / kth, 4)
           END AS kmv_estimate
    FROM sk ORDER BY event
    """,
    tags=("ST-13", "SK-2"),
)
def q_streaming_kmv_distinct(spark, sf_dir):
    """ST-13 streaming KMV: the engine drains the SSH file stream
    while a foreachBatch job merges
    each batch's (event, ip-hash) pairs into a k=16-row-per-group
    parquet state (min-k union is associative/commutative/idempotent,
    so the final state is bit-identical for ANY batch split — which
    is why this STREAMING query gets a full hash-match oracle, unlike
    the trigger-timing-dependent windowed entries). The source here is
    one file, so it drains in one micro-batch; multi-batch drains are
    covered by ``test_streaming_kmv_state_batch_split_invariant``."""
    from bigdata_logs_spark.streaming.ingest import streaming_kmv_state

    state = _drained_state(spark, sf_dir, streaming_kmv_state, "bls_kmv_state")
    return (
        SK.kmv_summary(state, "event")
        .select("event", "n_in_sketch", SK.kmv_estimate().alias("kmv_estimate"))
        .orderBy("event")
    )


# The parse stage of SSH_PARSE_CTE, detached from its generator so the
# Python-DataSource oracle can feed a different `gen` into the SAME
# parse SQL (keeping the two generators from drifting apart).
_SSH_PARSE_TAIL = SSH_PARSE_CTE[len(SSH_GEN_CTE):]

_PYGEN_CTE = r"""
WITH ids AS (SELECT unnest(range(20000)) AS i),
gen AS (
  SELECT printf('%s %2d %02d:%02d:%02d srv%d sshd[%d]: %s',
    ['Jan','Feb','Mar','Apr','May','Jun',
     'Jul','Aug','Sep','Oct','Nov','Dec'][(i % 12) + 1],
    i % 28 + 1, i % 24, (i * 7) % 60, (i * 13) % 60,
    i % 4, 1000 + i % 9000,
    CASE i % 4
      WHEN 0 THEN printf('Failed password for user%d from 10.0.%d.%d port %d ssh2',
                         i % 50, i % 256, (i * 7) % 256, 1024 + i % 60000)
      WHEN 1 THEN printf('Invalid user guest%d from 192.168.%d.%d',
                         i % 20, i % 256, (i * 3) % 256)
      WHEN 2 THEN printf('Connection closed by 172.16.%d.%d [preauth]',
                         i % 256, (i * 5) % 256)
      ELSE printf('Received disconnect from 203.0.%d.%d: 11: Bye',
                  i % 256, (i * 11) % 256)
    END) AS value
  FROM ids
)"""


@register(
    "python_datasource_counts",
    _PYGEN_CTE
    + _SSH_PARSE_TAIL
    + """
    SELECT event, COUNT(*)::BIGINT AS n
    FROM parsed GROUP BY event ORDER BY event
    """,
    tags=("U-6",),
)
def q_python_datasource_counts(spark, sf_dir):
    """U-6 custom Python DataSource (Spark 4 API): the `sshlog_gen`
    format plans 8 id-range input partitions and streams generated
    lines per split; the rows then run the SAME parse/classify path
    as the file sources. The oracle regenerates identical lines from
    range(n) and replays the identical parse SQL — a full hash-match
    check on a source format Spark has no built-in reader for."""
    from bigdata_logs_spark.sources.pygen import register_sshlog_gen

    register_sshlog_gen(spark)
    raw = spark.read.format("sshlog_gen").option("rows", 20000).load()
    from pyspark.sql import functions as F

    return (
        parse_ssh_lines(raw.select("value"))
        .groupBy("event")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event")
    )


register(
    "daily_value_ohlc",
    """
    WITH r AS (
      SELECT event_type, strftime(ts, '%Y-%m-%d') AS date, value,
             ROW_NUMBER() OVER (PARTITION BY event_type, ts::DATE
                                ORDER BY ts, event_id) AS rn_a,
             ROW_NUMBER() OVER (PARTITION BY event_type, ts::DATE
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM events
    )
    SELECT event_type, date,
           MAX(CASE WHEN rn_a = 1 THEN value END) AS open,
           MAX(value) AS high, MIN(value) AS low,
           MAX(CASE WHEN rn_d = 1 THEN value END) AS close,
           COUNT(*)::BIGINT AS n_events
    FROM r GROUP BY 1, 2 ORDER BY event_type, date
    """,
    tags=("W-9",),
    op=AN.daily_value_ohlc, tables=("events",),
)


register(
    "daily_value_interpolated",
    """
    WITH per AS (
      SELECT ts::DATE AS d,
             (SUM(value::DECIMAL(18,2))::DOUBLE / COUNT(*)) AS mean_raw
      FROM events GROUP BY 1
    ), bounds AS (SELECT MIN(ts::DATE) AS lo, MAX(ts::DATE) AS hi FROM events),
    spine AS (
      SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY))::DATE AS d
      FROM bounds
    ), j AS (
      SELECT s.d, p.mean_raw FROM spine s LEFT JOIN per p USING (d)
    ), a AS (
      SELECT d, mean_raw,
        last_value(mean_raw IGNORE NULLS) OVER
          (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS prev_v,
        last_value(CASE WHEN mean_raw IS NOT NULL THEN d END IGNORE NULLS)
          OVER (ORDER BY d ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          AS prev_d,
        first_value(mean_raw IGNORE NULLS) OVER
          (ORDER BY d ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
          AS next_v,
        first_value(CASE WHEN mean_raw IS NOT NULL THEN d END IGNORE NULLS)
          OVER (ORDER BY d ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
          AS next_d
      FROM j
    )
    SELECT strftime(d, '%Y-%m-%d') AS date,
      ROUND(CASE WHEN mean_raw IS NOT NULL THEN mean_raw
                 WHEN prev_v IS NOT NULL AND next_v IS NOT NULL
                 THEN prev_v + (next_v - prev_v)
                      * ((d - prev_d)::DOUBLE / (next_d - prev_d)::DOUBLE)
                 ELSE COALESCE(prev_v, next_v) END, 4) AS mean_value,
      (mean_raw IS NULL) AS interpolated
    FROM a ORDER BY date
    """,
    tags=("W-10",),
    op=AN.daily_value_interpolated, tables=("events",),
)


register(
    "lang_id_confusion",
    TOKS_CTE
    + """
    , preds AS (
      SELECT lang,
             CASE WHEN len(list_filter(tokens,
                          t -> t IN ('the','a','is','of'))) > 0
                  THEN 'en' ELSE 'unknown' END AS predicted_lang
      FROM toks
    ), cells AS (
      SELECT lang, predicted_lang, COUNT(*)::BIGINT AS n_docs
      FROM preds GROUP BY 1, 2
    )
    SELECT lang, predicted_lang, n_docs,
           ROUND(n_docs::DOUBLE
                 / (SUM(n_docs) OVER (PARTITION BY lang))::DOUBLE, 4)
             AS share_of_lang
    FROM cells ORDER BY lang, predicted_lang
    """,
    tags=("T-18",),
    op=TX.lang_id_confusion, tables=("documents",),
)


register(
    "quality_dedup_survivors",
    ND_COMPONENTS_CTES
    + """, allc AS (
      SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component, d.n_chars
      FROM documents d LEFT JOIN comp c USING (doc_id)
    ), surv AS (
      SELECT component, doc_id AS survivor_doc FROM (
        SELECT component, doc_id,
               ROW_NUMBER() OVER (PARTITION BY component
                                  ORDER BY n_chars DESC, doc_id) AS rk
        FROM allc
      ) WHERE rk = 1
    )
    SELECT a.doc_id, a.component, s.survivor_doc,
           (a.doc_id = s.survivor_doc) AS keep
    FROM allc a JOIN surv s USING (component) ORDER BY a.doc_id
    """,
    tags=("PL-15",),
    op=partial(DD.quality_dedup_survivors, threshold=0.5), tables=("documents",),
)


register(
    "token_graph_degrees",
    TOKEN_DIR_CTES
    + """, edges AS (
      SELECT src, dst FROM dir GROUP BY 1, 2
    ), deg AS (
      SELECT src, COUNT(*)::BIGINT AS deg FROM edges GROUP BY 1
    )
    SELECT (1::BIGINT << (length(bin(deg)) - 1))::BIGINT AS degree_bucket,
           COUNT(*)::BIGINT AS n_nodes
    FROM deg GROUP BY 1 ORDER BY degree_bucket
    """,
    tags=("G-3",),
    op=G.token_graph_degrees, tables=("documents",),
)


@register(
    "observed_etl_metrics",
    """
    SELECT COUNT(*)::BIGINT AS n_rows,
           ROUND(SUM(value::DECIMAL(18,2))::DOUBLE, 2) AS total_value,
           MAX(event_id)::BIGINT AS max_event_id
    FROM events
    """,
    tags=("OPS-1",),
)
def q_observed_etl_metrics(spark, sf_dir):
    """OPS-1 pipeline observability: the metrics are computed BY THE
    WRITE JOB via a CollectMetrics (Observation) node as rows stream
    to the parquet sink — zero extra passes. The oracle recomputes
    the same aggregates declaratively, certifying the telemetry."""
    from pyspark.sql import functions as F

    from bigdata_logs_spark.sources.io import observed_write

    ev = _events(spark, sf_dir)
    out = _scratch_path("bls_observed_store", sf_dir)
    got = observed_write(
        ev,
        out,
        {
            "n_rows": F.count(F.lit(1)),
            "total_value": F.round(
                F.sum(F.col("value").cast("decimal(18,2)")).cast("double"), 2
            ),
            "max_event_id": F.max("event_id"),
        },
    )
    return spark.createDataFrame(
        [(got["n_rows"], got["total_value"], got["max_event_id"])],
        "n_rows long, total_value double, max_event_id long",
    )


register(
    "user_attr_scd2",
    """
    WITH observed AS (
      SELECT user_id, ts, event_id, json_extract(props, '$.k')::INT AS k
      FROM events WHERE json_extract(props, '$.k') IS NOT NULL
    ), ordered AS (
      SELECT user_id, ts, event_id, k,
             LAG(k) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS prev_k
      FROM observed
    ), changes AS (
      SELECT user_id, k, ts, event_id FROM ordered
      WHERE prev_k IS NULL OR k != prev_k
    )
    SELECT user_id, k,
           strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
           strftime(LEAD(ts) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id),
                    '%Y-%m-%d %H:%M:%S.%f') AS valid_to,
           (LEAD(ts) OVER (PARTITION BY user_id
                           ORDER BY ts, event_id) IS NULL) AS is_current
    FROM changes ORDER BY user_id, valid_from
    """,
    tags=("S-18",),
    op=AN.user_attr_scd2, tables=("events",),
)


register(
    "cdc_shared_chunks",
    TOKS_CTE
    + """
    , tk AS (
      SELECT doc_id, generate_subscripts(tokens, 1) - 1 AS pos,
             unnest(tokens) AS token
      FROM toks
    ), g AS (
      SELECT doc_id, pos, token,
             concat_ws(' ', token, lead(token, 1) OVER w,
                       lead(token, 2) OVER w, lead(token, 3) OVER w) AS gram_s,
             lead(token, 3) OVER w AS t3
      FROM tk WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
    ), fl AS (
      SELECT doc_id, pos, token,
             CASE WHEN pos > 0 AND t3 IS NOT NULL
                       AND ('0x' || substr(md5(gram_s), 1, 8))::BIGINT % 8 = 0
                  THEN 1 ELSE 0 END AS boundary
      FROM g
    ), ch AS (
      SELECT doc_id, pos, token,
             SUM(boundary) OVER (PARTITION BY doc_id ORDER BY pos) AS chunk_no
      FROM fl
    ), prints AS (
      SELECT DISTINCT doc_id, md5(string_agg(token, ' ' ORDER BY pos)) AS fp
      FROM ch GROUP BY doc_id, chunk_no
    ), grp AS (
      SELECT fp FROM prints GROUP BY fp
      HAVING COUNT(*) BETWEEN 2 AND 16
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM prints a JOIN prints b ON a.fp = b.fp AND a.doc_id < b.doc_id
      JOIN grp ON grp.fp = a.fp
    )
    SELECT doc_a, doc_b, COUNT(*)::BIGINT AS n_shared_chunks
    FROM pairs GROUP BY 1, 2 HAVING COUNT(*) >= 2 ORDER BY doc_a, doc_b
    """,
    tags=("DD-12",),
    op=DD.cdc_shared_chunks, tables=("documents",),
)


register(
    "packing_efficiency",
    TOKS_CTE
    + """
    , sized AS (
      SELECT doc_id, len(tokens)::INT AS n_tokens,
             CAST(('0x' || substring(md5('pack:' || CAST(doc_id AS VARCHAR)),
                   1, 8)) AS BIGINT) % 8 AS shard
      FROM toks),
    binned AS (
      SELECT shard, doc_id, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
               AS preceding
      FROM sized),
    bins AS (
      SELECT shard, CAST(FLOOR(preceding / 2048) AS INT) AS bin,
             SUM(n_tokens)::BIGINT AS bin_tokens
      FROM binned GROUP BY shard, bin
    )
    SELECT shard, COUNT(*)::BIGINT AS n_bins,
           SUM(bin_tokens)::BIGINT AS shard_tokens,
           ROUND(SUM(bin_tokens)::DOUBLE / (COUNT(*) * 2048), 4) AS mean_fill,
           SUM(CASE WHEN bin_tokens > 2048 THEN 1 ELSE 0 END)::BIGINT
             AS straddling_bins
    FROM bins GROUP BY shard ORDER BY shard
    """,
    tags=("PL-16",),
    op=PL.packing_efficiency, tables=("documents",),
)


register(
    "session_documents",
    f"""
    WITH o AS (
      SELECT user_id, event_id, ts, event_type,
             {SESSION_START_SQL} AS b
      FROM events
    ), s AS (
      SELECT *, SUM(b) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS session_no
      FROM o
    )
    SELECT user_id, session_no::BIGINT AS session_no,
           COUNT(*)::BIGINT AS n_events,
           md5(string_agg(event_type || '@' || strftime(ts, '%H:%M'), ' '
                          ORDER BY ts, event_id)) AS doc_md5
    FROM s GROUP BY user_id, session_no ORDER BY user_id, session_no
    """,
    tags=("PL-17",),
    op=PL.sessions_to_documents, tables=("events",),
)


register(
    "hourly_burstiness",
    """
    WITH cells AS (
      SELECT event_type, strftime(ts, '%Y-%m-%d %H') AS hour,
             COUNT(*)::BIGINT AS n
      FROM events GROUP BY 1, 2
    ), m AS (
      SELECT event_type, COUNT(*)::BIGINT AS n_hours, SUM(n)::BIGINT AS s,
             SUM(n * n)::BIGINT AS ss
      FROM cells GROUP BY 1
    )
    SELECT event_type, n_hours, s AS total_events,
           ROUND(CASE WHEN n_hours > 1 THEN
             ((n_hours * ss::DOUBLE - s::DOUBLE * s::DOUBLE)
              / (n_hours * (n_hours - 1))) / (s::DOUBLE / n_hours)
           END, 4) AS fano_factor
    FROM m ORDER BY event_type
    """,
    tags=("W-11",),
    op=AN.hourly_burstiness, tables=("events",),
)


def _recall_leg(nprobe: int) -> str:
    """Total hits of the nprobe-wide IVF search against brute force."""
    return f"""
    SELECT {nprobe} AS nprobe,
           SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
             AS total_hits
    FROM ({REGISTRY["knn_brute_force"].oracle}) e
    LEFT JOIN ({_ivf_oracle(nprobe)}) a
      ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
    """


# The oracle composes the parameterized IVF template, so the settings
# cannot drift from the registered search.
register(
    "ivf_nprobe_sweep",
    f"""
    WITH legs AS (
      {_recall_leg(1)}
      UNION ALL {_recall_leg(2)}
      UNION ALL {_recall_leg(4)}
    )
    SELECT nprobe::INT AS nprobe, total_hits,
           ROUND(total_hits::DOUBLE / 25, 4) AS mean_recall
    FROM legs ORDER BY nprobe
    """,
    tags=("E-17",),
    op=SIM.ivf_nprobe_sweep, tables=("embeddings",),
)


register(
    "dow_hour_anomalies",
    """
    WITH cells AS (
      SELECT strftime(ts, '%Y-%m-%d') AS date,
             ((ts::DATE - DATE '1970-01-01' + 3) % 7)::INT AS dow,
             hour(ts)::INT AS hour, COUNT(*)::BIGINT AS n
      FROM events GROUP BY 1, 2, 3
    ), stats AS (
      SELECT *, (COUNT(*) OVER w)::BIGINT AS days,
             (SUM(n) OVER w)::BIGINT AS s,
             (SUM(n * n) OVER w)::BIGINT AS ss
      FROM cells WINDOW w AS (PARTITION BY dow, hour)
    )
    SELECT date, dow, hour, n,
      ROUND(s / days, 6) AS cell_mean,
      CASE WHEN days > 1 AND (ss - s * s / days) / (days - 1) > 0.0::DOUBLE
           THEN ROUND((n - s / days)
                      / sqrt((ss - s * s / days) / (days - 1)), 6) END AS zscore,
      COALESCE(
        CASE WHEN days > 1 AND (ss - s * s / days) / (days - 1) > 0.0::DOUBLE
             THEN ROUND((n - s / days)
                        / sqrt((ss - s * s / days) / (days - 1)), 6) END
        > 3.0::DOUBLE, FALSE) AS is_anomaly
    FROM stats ORDER BY date, hour
    """,
    tags=("AD-8",),
    op=AD.dow_hour_anomalies, tables=("events",),
)


register(
    "char_entropy",
    """
    WITH ch AS (
      SELECT doc_id, substr(text, i, 1) AS ch
      FROM documents,
           LATERAL (SELECT unnest(range(1, length(text) + 1)) AS i)
    ), counts AS (
      SELECT doc_id, ch, COUNT(*)::BIGINT AS cnt FROM ch GROUP BY 1, 2
    ), tot AS (
      SELECT doc_id, SUM(cnt)::BIGINT AS n FROM counts GROUP BY 1
    )
    SELECT c.doc_id, MAX(t.n)::BIGINT AS n_chars_total,
           ROUND(-SUM((c.cnt / t.n) * ln(c.cnt / t.n)), 6) AS char_entropy
    FROM counts c JOIN tot t USING (doc_id)
    GROUP BY c.doc_id ORDER BY c.doc_id
    """,
    tags=("T-20",),
    op=TX.char_entropy, tables=("documents",),
)


register(
    "daily_value_ribbon",
    """
    SELECT strftime(ts, '%Y-%m-%d') AS date, COUNT(*)::BIGINT AS n_events,
           ROUND(quantile_cont(value, 0.1), 6) AS p10,
           ROUND(quantile_cont(value, 0.5), 6) AS p50,
           ROUND(quantile_cont(value, 0.9), 6) AS p90
    FROM events GROUP BY 1 ORDER BY date
    """,
    tags=("D-52",),
    op=D.daily_value_ribbon, tables=("events",),
)


@register(
    "snapshot_diff",
    """
    WITH base AS (
      SELECT event_id,
             (event_id % 5 != 0) AS in_v1, (event_id % 7 != 0) AS in_v2,
             (event_id % 3 = 0 AND value IS NOT NULL) AS modified
      FROM events
    )
    SELECT CASE WHEN NOT in_v1 THEN 'added'
                WHEN NOT in_v2 THEN 'removed'
                WHEN modified THEN 'changed' ELSE 'unchanged'
           END AS change_type,
           COUNT(*)::BIGINT AS n_rows
    FROM base WHERE in_v1 OR in_v2
    GROUP BY 1 ORDER BY change_type
    """,
    tags=("SET-3",),
)
def q_snapshot_diff(spark, sf_dir):
    """SET-3 snapshot diff: added/removed/changed/unchanged row counts
    between two committed versions of the S-16 store — the audit
    behind "what did last night's load actually do". The Spark side
    classifies by comparing the ACTUAL read-back columns of both
    snapshots (a full-outer join on the key — store fidelity is part
    of what the green hash certifies); the oracle re-derives both
    versions from the raw table's predicates. Only (key, value) pairs
    enter the join; at scale the diff is one co-partitioned
    sort-merge join keyed on the store's primary key."""
    import os as _o

    from pyspark.sql import functions as F

    from bigdata_logs_spark.sources import read_versioned, write_versioned

    ev = _events(spark, sf_dir)
    path = _scratch_path("bls_snapdiff", sf_dir)
    if not _o.path.isdir(_o.path.join(path, "v=2")):
        _o.makedirs(path, exist_ok=True)
        write_versioned(ev.where(F.col("event_id") % 5 != 0), path)
        v2 = ev.where(F.col("event_id") % 7 != 0).withColumn(
            "value",
            F.when(
                F.col("event_id") % 3 == 0, F.col("value") + 500.0
            ).otherwise(F.col("value")),
        )
        write_versioned(v2, path)
    # Presence is an explicit flag, not value-NULLness: a row present
    # in both snapshots with a NULL value must classify by the
    # NULL-safe value comparison, never as added/removed.
    a = read_versioned(spark, path, version=1).select(
        "event_id",
        F.col("value").alias("v1_value"),
        F.lit(True).alias("in_v1"),
    )
    b = read_versioned(spark, path).select(
        "event_id",
        F.col("value").alias("v2_value"),
        F.lit(True).alias("in_v2"),
    )
    change = (
        F.when(F.col("in_v1").isNull(), F.lit("added"))
        .when(F.col("in_v2").isNull(), F.lit("removed"))
        .when(
            ~F.col("v1_value").eqNullSafe(F.col("v2_value")),
            F.lit("changed"),
        )
        .otherwise(F.lit("unchanged"))
    )
    return (
        a.join(b, "event_id", "full_outer")
        .select(change.alias("change_type"))
        .groupBy("change_type")
        .agg(F.count(F.lit(1)).alias("n_rows"))
        .orderBy("change_type")
    )


register(
    "duplicate_ngram_fraction",
    TOKS_CTE
    + f"""
    , per_doc AS (
      SELECT doc_id, gram, COUNT(*)::BIGINT AS own
      FROM (SELECT doc_id, unnest({SHINGLES_EXPR}) AS gram FROM toks)
      GROUP BY 1, 2
    ), corpus AS (
      SELECT gram, SUM(own)::BIGINT AS corpus_n FROM per_doc GROUP BY 1
    )
    SELECT p.doc_id, COUNT(*)::BIGINT AS n_distinct_grams,
           ROUND(SUM(CASE WHEN c.corpus_n > p.own THEN 1 ELSE 0 END)::DOUBLE
                 / COUNT(*), 4) AS dup_gram_fraction
    FROM per_doc p JOIN corpus c USING (gram)
    GROUP BY 1 ORDER BY p.doc_id
    """,
    tags=("T-23",),
    op=TX.duplicate_ngram_fraction, tables=("documents",),
)


register(
    "binary_knn",
    f"""
    WITH sigs AS (
      SELECT vec_id,
             list_sum(list_transform(range(1, 33),
               i -> CASE WHEN embedding[i]::DOUBLE > 0
                    THEN (1::BIGINT << (i - 1)) ELSE 0 END))::BIGINT AS lo,
             list_sum(list_transform(range(33, 65),
               i -> CASE WHEN embedding[i]::DOUBLE > 0
                    THEN (1::BIGINT << (i - 33)) ELSE 0 END))::BIGINT AS hi
      FROM embeddings
    ), scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             (bit_count(xor(q.lo, c.lo))
              + bit_count(xor(q.hi, c.hi)))::INT AS hamming
      FROM sigs q JOIN sigs c
        ON q.vec_id < 3 AND q.vec_id != c.vec_id
    ), short AS (
      SELECT * FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY hamming, neighbor_id) AS rs
        FROM scored) WHERE rs <= 20
    ), rer AS (
      SELECT s.query_id, s.neighbor_id, s.hamming,
             ROUND({DOT_SQL.format(a='qe.embedding', b='ne.embedding')}
                   / (SQRT({DOT_SQL.format(a='qe.embedding', b='qe.embedding')})
                      * SQRT({DOT_SQL.format(a='ne.embedding', b='ne.embedding')})),
                   6) AS cosine
      FROM short s
      JOIN embeddings qe ON s.query_id = qe.vec_id
      JOIN embeddings ne ON s.neighbor_id = ne.vec_id
    )
    SELECT query_id, rank, neighbor_id, hamming, cosine FROM (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id)::INT AS rank
      FROM rer) WHERE rank <= 5
    ORDER BY query_id, rank
    """,
    tags=("E-19",),
    op=SIM.binary_knn, tables=("embeddings",),
)


@register(
    "cusum_changepoints",
    """
    WITH daily AS (
      SELECT event_type, strftime(ts, '%Y-%m-%d') AS date,
             COUNT(*)::BIGINT AS n
      FROM events GROUP BY 1, 2
    ), sized AS (
      SELECT *, COUNT(*) OVER (PARTITION BY event_type)::BIGINT AS n_days,
             SUM(n) OVER (PARTITION BY event_type)::BIGINT AS total
      FROM daily
    ), cum AS (
      SELECT *, SUM(n_days * n - total) OVER (
               PARTITION BY event_type ORDER BY date
               ROWS UNBOUNDED PRECEDING)::BIGINT AS p
      FROM sized
    ), ribbons AS (
      SELECT *,
             (p - LEAST(0, MIN(p) OVER (
                PARTITION BY event_type ORDER BY date
                ROWS UNBOUNDED PRECEDING)))::BIGINT AS cusum_pos,
             (GREATEST(0, MAX(p) OVER (
                PARTITION BY event_type ORDER BY date
                ROWS UNBOUNDED PRECEDING)) - p)::BIGINT AS cusum_neg
      FROM cum
    )
    SELECT event_type, date, n, cusum_pos, cusum_neg,
           (cusum_pos > total OR cusum_neg > total) AS flagged
    FROM ribbons ORDER BY event_type, date
    """,
    tags=("AD-9",),
)
def q_cusum_changepoints(spark, sf_dir):
    """AD-9 CUSUM: sequential change-point ribbon per event type via
    the prefix-sum closed form (S_t = P_t - min(0, running-min P)) —
    integer-scaled deviations so every CUSUM value is exact BIGINT;
    catches sustained small shifts pointwise thresholds miss."""
    from bigdata_logs_spark.operators.anomaly import cusum_changepoints

    return cusum_changepoints(_events(spark, sf_dir))


register(
    "dq_expectations",
    f"""
    WITH m AS (
      SELECT COUNT(*)::BIGINT AS n,
             SUM(CASE WHEN value IS NULL THEN 1 ELSE 0 END)::BIGINT
               AS value_nulls,
             SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END)::BIGINT
               AS user_nulls,
             (COUNT(*) - COUNT(DISTINCT event_id))::BIGINT AS dup_ids,
             SUM(CASE WHEN event_type NOT IN
                 ('click', 'error', 'purchase', 'signup', 'view')
                 THEN 1 ELSE 0 END)::BIGINT AS out_of_domain,
             SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END)::BIGINT
               AS negative_values,
             SUM(CASE WHEN ts >= '2020-01-01' AND ts < '2030-01-01'
                 THEN 0 ELSE 1 END)::BIGINT AS ts_out_of_era
      FROM events
    ), checks AS (
      SELECT 'completeness:value' AS "constraint",
             ((value_nulls * 1000000) // n)::BIGINT AS observed,
             10000::BIGINT AS threshold FROM m
      UNION ALL SELECT 'completeness:user_id',
             ((user_nulls * 1000000) // n)::BIGINT, 0 FROM m
      UNION ALL SELECT 'uniqueness:event_id', dup_ids, 0 FROM m
      UNION ALL SELECT 'domain:event_type', out_of_domain, 0 FROM m
      UNION ALL SELECT 'range:value>=0', negative_values, 0 FROM m
      UNION ALL SELECT 'freshness:ts_in_era', ts_out_of_era, 0 FROM m
    )
    SELECT "constraint", observed, threshold,
           (observed <= threshold) AS passed
    FROM checks ORDER BY "constraint"
    """,
    tags=("OPS-2",),
    op=D.dq_expectations, tables=("events",),
)


@register(
    "streaming_near_dup_pairs",
    LSH_SIGS_CTES
    + f""", cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig
      WHERE a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, {JACCARD_SQL} AS jaccard
    FROM cand JOIN sh x ON cand.doc_a = x.doc_id
              JOIN sh y ON cand.doc_b = y.doc_id
    WHERE {JACCARD_SQL} >= 0.05
    ORDER BY doc_a, doc_b
    """,
    tags=("ST-14",),
)
def q_streaming_near_dup_pairs(spark, sf_dir):
    """ST-14 streaming incremental LSH dedup: documents drain in
    forced multi-file micro-batches; each batch appends signatures +
    shingle fingerprints to parquet state and emits verified pairs
    batch-vs-seen-so-far (never old×old). Pair emission is
    batch-split invariant, so — like ST-13 — this streaming query
    carries a full hash-match oracle (the uncapped LSH pair set)."""
    import os as _o

    from bigdata_logs_spark.streaming.ingest import streaming_lsh_dedup_state

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    src = _scratch_path("bls_docstream_src", sf_dir)
    if not _o.path.exists(_o.path.join(src, "_SUCCESS")):
        docs.repartition(4, "doc_id").write.mode("overwrite").json(src)
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    state = _scratch_path("bls_lshdedup_state", sf_dir)
    return streaming_lsh_dedup_state(stream, state, threshold=0.05)


@register(
    "streaming_lsh_state_occupancy",
    LSH_SIGS_CTES
    + f""", occ AS (
      SELECT band, sig, COUNT(*)::BIGINT AS n FROM sigs GROUP BY band, sig
    )
    SELECT COUNT(*)::BIGINT AS n_buckets,
           SUM(CASE WHEN n >= 2 THEN 1 ELSE 0 END)::BIGINT AS n_multi,
           MAX(n)::BIGINT AS max_occupancy,
           SUM(CASE WHEN n > {DD.BUCKET_CAP} THEN 1 ELSE 0 END)::BIGINT
             AS n_over_cap,
           SUM(n * (n - 1) // 2)::BIGINT AS n_pairs_uncapped,
           SUM(CASE WHEN n <= {DD.BUCKET_CAP} THEN n * (n - 1) // 2
               ELSE 0 END)::BIGINT AS n_pairs_capped
    FROM occ
    """,
    tags=("ST-14", "OPS-2"),
)
def q_streaming_lsh_state_occupancy(spark, sf_dir):
    """ST-14's operational gauge: after a full drain, the signature
    state's bucket-occupancy profile — max occupancy and the exact
    Σ occ·(occ-1)/2 pair-expansion exposure with and without the
    BUCKET_CAP gate. This is the number that decides whether the next
    drain needs ``occupancy_cap`` (the capped, no-oracle production
    mode); split-invariant because the drained signature state is a
    pure function of the corpus, so it keeps a full hash oracle."""
    import os as _o

    from bigdata_logs_spark.streaming.ingest import (
        streaming_lsh_state_occupancy,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    src = _scratch_path("bls_docstream_src", sf_dir)
    if not _o.path.exists(_o.path.join(src, "_SUCCESS")):
        docs.repartition(4, "doc_id").write.mode("overwrite").json(src)
    stream = (
        spark.readStream.schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", 1)
        .json(src)
    )
    state = _scratch_path("bls_lshocc_state", sf_dir)
    return streaming_lsh_state_occupancy(stream, state, cap=DD.BUCKET_CAP)


register(
    "scd2_asof_enrichment",
    """
    WITH observed AS (
      SELECT user_id, ts, event_id, json_extract(props, '$.k')::INT AS k
      FROM events WHERE json_extract(props, '$.k') IS NOT NULL
    ), ordered AS (
      SELECT user_id, ts, event_id, k,
             LAG(k) OVER
               (PARTITION BY user_id ORDER BY ts, event_id) AS prev_k
      FROM observed
    ), changes AS (
      SELECT user_id, k, ts, event_id FROM ordered
      WHERE prev_k IS NULL OR k != prev_k
    ), dim AS (
      SELECT user_id, k,
             strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS valid_from,
             strftime(LEAD(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id),
                      '%Y-%m-%d %H:%M:%S.%f') AS valid_to
      FROM changes
    ), enriched AS (
      SELECT e.event_id, e.value, d.k
      FROM events e LEFT JOIN dim d
        ON e.user_id = d.user_id
       AND strftime(e.ts, '%Y-%m-%d %H:%M:%S.%f') >= d.valid_from
       AND (d.valid_to IS NULL
            OR strftime(e.ts, '%Y-%m-%d %H:%M:%S.%f') < d.valid_to)
    )
    SELECT COALESCE(k, -1) AS attr_k, COUNT(*)::BIGINT AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
    FROM enriched GROUP BY 1 ORDER BY attr_k
    """,
    tags=("J-16",),
    op=AN.scd2_asof_enrichment, tables=("events",),
)


register(
    "token_budget_allocation",
    TOKS_CTE
    + """
    , sized AS (SELECT source, doc_id, len(tokens)::BIGINT AS n_tokens FROM toks)
    , per_source AS (
      SELECT source, COUNT(*)::BIGINT AS n_docs,
             SUM(n_tokens)::BIGINT AS source_tokens
      FROM sized GROUP BY 1
    ), ws AS (
      SELECT *, ROUND(SQRT(source_tokens::DOUBLE) * 1000000.0::DOUBLE)::BIGINT
                  AS w_micro
      FROM per_source
    ), den AS (SELECT SUM(w_micro)::BIGINT AS denom FROM ws
    ), based AS (
      SELECT ws.*, ((100000 * w_micro) // denom)::BIGINT AS base,
             ((100000 * w_micro) % denom)::BIGINT AS rem
      FROM ws CROSS JOIN den
    ), tot AS (SELECT SUM(base)::BIGINT AS base_total FROM based
    ), alloc AS (
      SELECT b.source, b.n_docs, b.source_tokens, b.w_micro,
             (b.base + CASE WHEN ROW_NUMBER() OVER
                (ORDER BY b.rem DESC, b.source) <= 100000 - t.base_total
                THEN 1 ELSE 0 END)::BIGINT AS token_budget
      FROM based b CROSS JOIN tot t
    ), cum AS (
      SELECT source, doc_id,
             SUM(n_tokens) OVER (PARTITION BY source ORDER BY doc_id) AS cum
      FROM sized
    ), fit AS (
      SELECT c.source, COUNT(*)::BIGINT AS n_docs_fit
      FROM cum c JOIN alloc a USING (source)
      WHERE c.cum <= a.token_budget GROUP BY 1
    )
    SELECT a.source, a.n_docs, a.source_tokens, a.w_micro, a.token_budget,
           COALESCE(f.n_docs_fit, 0)::BIGINT AS n_docs_fit
    FROM alloc a LEFT JOIN fit f USING (source)
    ORDER BY a.source
    """,
    tags=("PL-18",),
    op=PL.token_budget_allocation, tables=("documents",),
)


_SEMDEDUP_ORACLE = f"""
    WITH RECURSIVE {LABEL_CENTROIDS_CTES}, n AS (
      SELECT vec_id, label AS cell, embedding,
             SQRT({DOT_SQL.format(a='embedding', b='embedding')}) AS nrm
      FROM embeddings
    ), withc AS (
      SELECT n.vec_id, n.cell,
             ROUND({DOT_SQL.format(a='n.embedding', b='c.cvec')}
                   / (n.nrm * SQRT({DOT_SQL.format(a='c.cvec', b='c.cvec')})), 6)
               AS centroid_cos
      FROM n JOIN cent c ON n.cell = c.cell
    ), prs AS (
      SELECT a.vec_id AS u, b.vec_id AS v
      FROM n a JOIN n b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE ROUND({DOT_SQL.format(a='a.embedding', b='b.embedding')}
                  / (a.nrm * b.nrm), 6) >= 0.4
    ), edges AS (
      SELECT u, v FROM prs UNION ALL SELECT v, u FROM prs
    ), reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ), comp AS (
      SELECT u AS vec_id, least(u, MIN(v)) AS component FROM reach GROUP BY u
    ), labeled AS (
      SELECT w.vec_id, w.cell,
             COALESCE(c.component, w.vec_id) AS component, w.centroid_cos
      FROM withc w LEFT JOIN comp c USING (vec_id)
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY component ORDER BY centroid_cos, vec_id) AS rn
      FROM labeled
    )
    SELECT vec_id, cell, component, centroid_cos, (rn = 1) AS keep
    FROM ranked ORDER BY vec_id
    """


register(
    "semantic_dedup",
    _SEMDEDUP_ORACLE,
    tags=("DD-15",),
    op=SIM.semantic_dedup, tables=("embeddings",),
)


register(
    "winnowing_overlap",
    TOKS_CTE
    + f"""
    , sh AS (SELECT doc_id, {SHINGLES_EXPR} AS shingles FROM toks)
    , hashed AS (
      SELECT doc_id,
             list_transform(shingles,
               s2 -> ('0x' || substr(md5(s2), 1, 13))::BIGINT) AS hs
      FROM sh
    ), fps AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               range(1, greatest(len(hs) - 4 + 1, 1) + 1),
               i -> list_aggregate(hs[i : i + 3], 'min')))) AS fp
      FROM hashed
    ), ok AS (
      SELECT fp FROM fps GROUP BY fp HAVING COUNT(*) <= 64
    ), capped AS (SELECT f.* FROM fps f JOIN ok USING (fp)
    ), pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*)::BIGINT AS n_shared
      FROM capped a JOIN capped b ON a.fp = b.fp AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_shared FROM pairs
    WHERE n_shared >= 2 ORDER BY doc_a, doc_b
    """,
    tags=("DD-14",),
    op=DD.winnowing_overlap, tables=("documents",),
)


def _pq_resid_cols(vec: str, out: str) -> str:
    """Per-subspace PQ columns over a RESIDUAL double array ``vec``
    (already double, no cast needed), mirroring
    ``similarity._pq_dists_expr`` op-for-op; distance lists land as
    ``{out}0..{out}3`` with codes only emitted for the encode leg."""
    cols = []
    for s in range(4):
        off = s * 16
        cols.append(
            f"""
            list_transform(s.seeds, c -> list_aggregate(
              list_transform(range(1, 17), i ->
                (c[{off} + i] - {vec}[{off} + i])
                * (c[{off} + i] - {vec}[{off} + i])),
              'sum')) AS {out}{s}"""
        )
    return ",".join(cols)


_RESID_SQL = (
    "list_transform(range(1, len({e}) + 1), i -> {e}[i]::DOUBLE - {c}[i])"
)

_IVFPQ_ORACLE = f"""
    WITH {LABEL_CENTROIDS_CTES}, ranked AS (
      SELECT e.vec_id, e.embedding, c.cell, c.cvec,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id ORDER BY
               ROUND({{L2}}, 6), c.cell) AS rnk
      FROM embeddings e CROSS JOIN cent c
    ), assign AS (
      SELECT vec_id, cell,
             {_RESID_SQL.format(e='embedding', c='cvec')} AS rvec
      FROM ranked WHERE rnk = 1
    ), seeds AS (
      SELECT list(rvec ORDER BY vec_id) AS seeds
      FROM (SELECT vec_id, rvec FROM assign ORDER BY vec_id LIMIT 8)
    ), coded AS (
      SELECT a.vec_id, a.cell, {_pq_resid_cols('a.rvec', 'd')},
             (list_position(d0, list_aggregate(d0, 'min')) - 1)::INT AS code_0,
             (list_position(d1, list_aggregate(d1, 'min')) - 1)::INT AS code_1,
             (list_position(d2, list_aggregate(d2, 'min')) - 1)::INT AS code_2,
             (list_position(d3, list_aggregate(d3, 'min')) - 1)::INT AS code_3
      FROM assign a CROSS JOIN seeds s
    ), probes AS (
      SELECT r.vec_id AS query_id, r.cell,
             {_RESID_SQL.format(e='r.embedding', c='r.cvec')} AS qr
      FROM ranked r WHERE r.vec_id < 3 AND r.rnk <= 2
    ), luts AS (
      SELECT p.query_id, p.cell, {_pq_resid_cols('p.qr', 'lut')}
      FROM probes p CROSS JOIN seeds s
    ), scored AS (
      SELECT l.query_id, c.vec_id AS neighbor_id, c.cell,
             ROUND(l.lut0[c.code_0 + 1] + l.lut1[c.code_1 + 1]
                   + l.lut2[c.code_2 + 1] + l.lut3[c.code_3 + 1], 6)
               AS adc_sq_dist
      FROM luts l JOIN coded c USING (cell)
      WHERE l.query_id != c.vec_id
    ), topk AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY adc_sq_dist, neighbor_id) AS rank
      FROM scored
    )
    SELECT query_id, rank::INT AS rank, neighbor_id, cell, adc_sq_dist
    FROM topk WHERE rank <= 10
    ORDER BY query_id, rank
    """


register(
    "ivfpq_adc_topk",
    _IVFPQ_ORACLE.format(L2=L2_SQL.format(a="e.embedding", b="c.cvec")),
    tags=("E-18",),
    op=SIM.ivfpq_adc_topk, tables=("embeddings",),
)


register(
    "kmv_set_ops",
    f"""
    WITH keyed AS (
      SELECT DISTINCT user_id, event_type FROM events
      WHERE user_id IS NOT NULL AND event_type IN ('click', 'purchase')
    ), flags AS (
      SELECT ('0x' || substr(md5(user_id::VARCHAR), 1, 13))::BIGINT AS h,
             MAX(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS in_a,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS in_b
      FROM keyed GROUP BY 1
    ), topk AS (SELECT * FROM flags ORDER BY h LIMIT {SK.KMV_K}
    ), sk AS (
      SELECT MAX(h) AS kth, COUNT(*)::BIGINT AS n_in_sketch,
             SUM(in_a * in_b)::BIGINT AS n_both
      FROM topk
    ), ex AS (
      SELECT SUM(in_a)::BIGINT AS n_a_exact, SUM(in_b)::BIGINT AS n_b_exact,
             COUNT(*)::BIGINT AS n_union_exact,
             SUM(in_a * in_b)::BIGINT AS n_inter_exact
      FROM flags
    )
    SELECT ex.n_a_exact, ex.n_b_exact, ex.n_union_exact, ex.n_inter_exact,
           CASE WHEN sk.n_in_sketch < {SK.KMV_K} THEN sk.n_in_sketch::DOUBLE
                ELSE ROUND({SK.KMV_NUMERATOR}.0::DOUBLE / sk.kth, 4)
           END AS kmv_union,
           ROUND(sk.n_both::DOUBLE * kmv_union / {SK.KMV_K}, 4)
             AS kmv_intersection
    FROM ex CROSS JOIN sk
    """,
    tags=("SK-3",),
    op=SK.kmv_set_ops, tables=("events",),
)


register(
    "minhash_containment",
    NDP_PAIRS_CTES + CONTAINMENT_VERIFY_SQL,
    tags=("DD-13",),
    op=DD.minhash_containment, tables=("documents",),
)


register(
    "containment_rare_shingle",
    TOKS_CTE
    + f"""
    , sh AS (SELECT doc_id, list_distinct({SHINGLES_EXPR}) AS shingles FROM toks)
    , grams AS (SELECT doc_id, unnest(shingles) AS gram FROM sh)
    , rare AS (SELECT gram FROM grams GROUP BY gram
               HAVING COUNT(*) <= {DD.BUCKET_CAP})
    , gr AS (SELECT g.doc_id, g.gram FROM grams g JOIN rare USING (gram))
    , cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM gr a JOIN gr b ON a.gram = b.gram
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2 HAVING COUNT(*) >= {DD.RARE_MIN_SHARED}
    )"""
    + CONTAINMENT_VERIFY_SQL,
    tags=("DD-18",),
    op=DD.containment_rare_shingle, tables=("documents",),
)


register(
    "token_graph_triangles",
    TOKEN_DIR_CTES
    + """, edges AS (
      SELECT src, dst FROM dir GROUP BY 1, 2
    ), und AS (SELECT src, dst FROM edges WHERE src < dst
    ), deg AS (SELECT src, COUNT(*)::BIGINT AS deg FROM edges GROUP BY 1
    ), tri AS (
      SELECT COUNT(*)::BIGINT AS n_triangles
      FROM und e1
      JOIN und e2 ON e1.dst = e2.src
      JOIN und e3 ON e3.src = e1.src AND e3.dst = e2.dst
    )
    SELECT (SELECT COUNT(*)::BIGINT FROM deg) AS n_nodes,
           (SELECT COUNT(*)::BIGINT FROM und) AS n_edges,
           (SELECT (SUM(deg * (deg - 1)) / 2)::BIGINT FROM deg) AS n_wedges,
           tri.n_triangles,
           ROUND(3.0::DOUBLE * tri.n_triangles::DOUBLE
                 / (SELECT (SUM(deg * (deg - 1)) / 2)::BIGINT FROM deg), 6)
             AS clustering_coeff
    FROM tri
    """,
    tags=("G-4",),
    op=G.token_graph_triangles, tables=("documents",),
)


register(
    "pmi_bigrams",
    TOKS_CTE
    + """
    , pairs AS (
      SELECT unnest(tokens[1:len(tokens)-1]) AS w1,
             unnest(tokens[2:len(tokens)]) AS w2
      FROM toks WHERE len(tokens) >= 2
    ), big AS (
      SELECT w1, w2, COUNT(*)::BIGINT AS n FROM pairs GROUP BY 1, 2
    ), uc AS (
      SELECT w, COUNT(*)::BIGINT AS c
      FROM (SELECT unnest(tokens) AS w FROM toks) GROUP BY 1
    ), tot AS (
      SELECT (SELECT SUM(c)::BIGINT FROM uc) AS n_uni,
             (SELECT SUM(n)::BIGINT FROM big) AS n_big
    )
    SELECT big.w1, big.w2, big.n,
           (ROUND(ln(big.n::DOUBLE) * 1000000.0::DOUBLE)::BIGINT
            + 2 * ROUND(ln(tot.n_uni::DOUBLE) * 1000000.0::DOUBLE)::BIGINT
            - ROUND(ln(tot.n_big::DOUBLE) * 1000000.0::DOUBLE)::BIGINT
            - ROUND(ln(c1.c::DOUBLE) * 1000000.0::DOUBLE)::BIGINT
            - ROUND(ln(c2.c::DOUBLE) * 1000000.0::DOUBLE)::BIGINT) AS pmi_micro
    FROM big
    CROSS JOIN tot
    JOIN uc c1 ON big.w1 = c1.w
    JOIN uc c2 ON big.w2 = c2.w
    WHERE big.n >= 5
    ORDER BY pmi_micro DESC, big.w1, big.w2 LIMIT 50
    """,
    tags=("T-21",),
    op=TX.pmi_bigrams, tables=("documents",),
)


register(
    "lm_doc_scores",
    TOKS_CTE
    + """
    , pairs AS (
      SELECT doc_id, unnest(tokens[1:len(tokens)-1]) AS w1,
             unnest(tokens[2:len(tokens)]) AS w2
      FROM toks WHERE len(tokens) >= 2
    ), big AS (
      SELECT w1, w2, COUNT(*)::BIGINT AS cb FROM pairs GROUP BY 1, 2
    ), uc AS (
      SELECT w1, COUNT(*)::BIGINT AS cu
      FROM (SELECT unnest(tokens) AS w1 FROM toks) GROUP BY 1
    ), v AS (SELECT COUNT(*)::BIGINT AS v FROM uc
    ), terms AS (
      SELECT p.doc_id,
             ROUND(ln((uc.cu + v.v)::DOUBLE) * 1000000.0::DOUBLE)::BIGINT
             - ROUND(ln((big.cb + 1)::DOUBLE) * 1000000.0::DOUBLE)::BIGINT
               AS term_micro
      FROM pairs p JOIN big USING (w1, w2) JOIN uc USING (w1) CROSS JOIN v
    ), per_doc AS (
      SELECT doc_id, COUNT(*)::BIGINT AS n_bigrams,
             SUM(term_micro)::BIGINT AS nll_micro_total
      FROM terms GROUP BY 1
    )
    SELECT t.doc_id, COALESCE(per_doc.n_bigrams, 0)::BIGINT AS n_bigrams,
           per_doc.nll_micro_total,
           ROUND(per_doc.nll_micro_total::DOUBLE / per_doc.n_bigrams, 2)
             AS avg_nll_micro
    FROM toks t LEFT JOIN per_doc USING (doc_id)
    ORDER BY t.doc_id
    """,
    tags=("T-22",),
    op=TX.lm_doc_scores, tables=("documents",),
)


register(
    "bm25_topk",
    TOKS_CTE
    + """
    , tf AS (
      SELECT doc_id, w AS token, COUNT(*)::BIGINT AS tf
      FROM (SELECT doc_id, unnest(tokens) AS w FROM toks) GROUP BY 1, 2
    ), dl AS (
      SELECT doc_id, len(tokens)::BIGINT AS dl FROM toks
    ), dfq AS (
      SELECT token, COUNT(*)::BIGINT AS df FROM tf GROUP BY 1
    ), st AS (
      SELECT (SELECT COUNT(*)::BIGINT FROM documents) AS n_docs,
             (SELECT SUM(dl)::BIGINT FROM dl) AS total_dl
    ), qt AS (
      SELECT token,
             ROUND(ln((st.n_docs + 1)::DOUBLE) * 1000000.0::DOUBLE)::BIGINT
             - ROUND(ln((df + 1)::DOUBLE) * 1000000.0::DOUBLE)::BIGINT
               AS idf_micro
      FROM (
        SELECT token, df, ROW_NUMBER() OVER (ORDER BY df DESC, token) AS r
        FROM dfq
      ) CROSS JOIN st
      WHERE r > 9 AND r <= 12
    ), scored AS (
      SELECT tf.doc_id,
             ROUND((qt.idf_micro * tf.tf)::DOUBLE * 2.25::DOUBLE
                   / (tf.tf::DOUBLE + 1.25::DOUBLE * (0.25::DOUBLE
                      + 0.75::DOUBLE * (dl.dl::DOUBLE
                          / (st.total_dl::DOUBLE / st.n_docs)))))::BIGINT
               AS s
      FROM tf JOIN qt USING (token) JOIN dl USING (doc_id) CROSS JOIN st
    )
    SELECT doc_id, COUNT(*)::BIGINT AS n_terms_matched,
           SUM(s)::BIGINT AS bm25_micro
    FROM scored GROUP BY 1
    ORDER BY bm25_micro DESC, doc_id LIMIT 10
    """,
    tags=("T-26",),
    op=TX.bm25_topk, tables=("documents",),
)


register(
    "dashboard_render_all",
    PROFILE_ORACLE_CTE
    + f"""
    , g AS (
      SELECT COUNT(*)::BIGINT AS total_records,
             COUNT(DISTINCT user_id)::BIGINT AS unique_users,
             COUNT(DISTINCT event_type)::BIGINT AS distinct_events,
             SUM({SUSP_CASE})::BIGINT AS failed_events,
             ROUND(SUM({SUSP_CASE})::DOUBLE * 100.0::DOUBLE / COUNT(*), 2)
               AS failed_rate_pct
      FROM events
    ), ps AS (
      SELECT COUNT(*)::BIGINT AS total_entities,
             SUM(CASE WHEN failed_events > 0 THEN 1 ELSE 0 END)::BIGINT
               AS entities_with_failures,
             SUM(CASE WHEN high_value_events > 0 THEN 1 ELSE 0 END)::BIGINT
               AS entities_high_value,
             SUM(CASE WHEN total_events > 100 THEN 1 ELSE 0 END)::BIGINT
               AS entities_over_100_events,
             MAX(total_events)::BIGINT AS max_events_per_entity,
             ROUND(SUM(total_events)::DOUBLE / COUNT(*), 2)
               AS avg_events_per_entity,
             ROUND(SUM(suspicious_score)::DOUBLE / COUNT(*), 2)
               AS avg_suspicious_score,
             SUM(CASE WHEN suspicious_score > 80 THEN 1 ELSE 0 END)::BIGINT
               AS entities_score_over_80
      FROM profile
    ), unioned AS (
      SELECT 'global' AS panel, '' AS k, 'total_records' AS metric,
             total_records::DOUBLE AS value FROM g
      UNION ALL SELECT 'global', '', 'unique_users', unique_users::DOUBLE FROM g
      UNION ALL SELECT 'global', '', 'distinct_events', distinct_events::DOUBLE FROM g
      UNION ALL SELECT 'global', '', 'failed_events', failed_events::DOUBLE FROM g
      UNION ALL SELECT 'global', '', 'failed_rate_pct', failed_rate_pct FROM g
      UNION ALL SELECT 'event_counts', event_type, 'n', COUNT(*)::DOUBLE
                FROM events GROUP BY 2
      UNION ALL SELECT 'top_users', user_id::VARCHAR, 'n', n::DOUBLE FROM (
                  SELECT user_id, COUNT(*)::BIGINT AS n FROM events
                  GROUP BY user_id ORDER BY n DESC, user_id LIMIT 10)
      UNION ALL SELECT 'per_hour', strftime(ts, '%H'), 'n', COUNT(*)::DOUBLE
                FROM events GROUP BY 2
      UNION ALL SELECT 'per_day', strftime(ts, '%Y-%m-%d'), 'total_events',
                COUNT(*)::DOUBLE FROM events GROUP BY 2
      UNION ALL SELECT 'susp_vs_normal', strftime(ts, '%Y-%m-%d'), 'Suspicious',
                SUM({SUSP_CASE})::DOUBLE FROM events GROUP BY 2
      UNION ALL SELECT 'susp_vs_normal', strftime(ts, '%Y-%m-%d'), 'Normal',
                SUM(CASE WHEN event_type IN {SUSP_SQL} THEN 0 ELSE 1 END)::DOUBLE
                FROM events GROUP BY 2
      UNION ALL SELECT 'by_type_per_day', strftime(ts, '%Y-%m-%d'), event_type,
                COUNT(*)::DOUBLE FROM events GROUP BY 2, 3
      UNION ALL SELECT 'profile_stats', '', 'total_entities',
                total_entities::DOUBLE FROM ps
      UNION ALL SELECT 'profile_stats', '', 'entities_with_failures',
                entities_with_failures::DOUBLE FROM ps
      UNION ALL SELECT 'profile_stats', '', 'entities_high_value',
                entities_high_value::DOUBLE FROM ps
      UNION ALL SELECT 'profile_stats', '', 'entities_over_100_events',
                entities_over_100_events::DOUBLE FROM ps
      UNION ALL SELECT 'profile_stats', '', 'max_events_per_entity',
                max_events_per_entity::DOUBLE FROM ps
      UNION ALL SELECT 'profile_stats', '', 'avg_events_per_entity',
                avg_events_per_entity FROM ps
      UNION ALL SELECT 'profile_stats', '', 'avg_suspicious_score',
                avg_suspicious_score FROM ps
      UNION ALL SELECT 'profile_stats', '', 'entities_score_over_80',
                entities_score_over_80::DOUBLE FROM ps
      UNION ALL SELECT 'diversity', event_diversity::VARCHAR, 'n',
                COUNT(*)::DOUBLE FROM profile GROUP BY 2
      UNION ALL SELECT 'score_hist',
                (FLOOR(suspicious_score / 5.0::DOUBLE) * 5.0::DOUBLE)::BIGINT::VARCHAR,
                'n', COUNT(*)::DOUBLE FROM profile GROUP BY 2
    )
    SELECT panel, k, metric, value FROM unioned ORDER BY panel, k, metric
    """,
    tags=("D-53",),
    op=D.dashboard_render_all, tables=("events",),
)


register(
    "hll_distinct",
    f"""
    WITH keyed AS (
      SELECT DISTINCT event_type, user_id FROM events
      WHERE user_id IS NOT NULL
    ), hashed AS (
      SELECT event_type,
             ('0x' || substr(md5(user_id::VARCHAR), 1, 13))::BIGINT AS h
      FROM keyed
    ), parts AS (
      SELECT event_type, h >> {SK.HLL_FIELD} AS idx,
             h & {SK.HLL_FIELD_MASK} AS w
      FROM hashed
    ), regs AS (
      SELECT event_type, idx,
             MAX({HLL_RHO_SQL})::BIGINT AS r
      FROM parts GROUP BY 1, 2
    ), z AS (
      SELECT event_type,
             SUM(1::BIGINT << ({SK.HLL_RHO_MAX} - r)::INT)::BIGINT
               AS z_present,
             COUNT(*)::BIGINT AS m_present
      FROM regs GROUP BY 1
    ), est AS (
      SELECT event_type, ({SK.HLL_M} - m_present)::BIGINT AS v,
             {HLL_RAW_SQL} AS raw
      FROM z
    ), corr AS (
      SELECT event_type, v,
             {HLL_ESTIMATE_SQL} AS hll_estimate
      FROM est
    ), ex AS (
      SELECT event_type, COUNT(DISTINCT user_id)::BIGINT AS n_exact
      FROM events WHERE user_id IS NOT NULL GROUP BY 1
    )
    SELECT corr.event_type, ex.n_exact, corr.hll_estimate,
           corr.v AS n_zero_registers,
           ROUND((corr.hll_estimate - ex.n_exact) / ex.n_exact, 4)
             AS rel_error
    FROM corr JOIN ex USING (event_type)
    ORDER BY event_type
    """,
    tags=("SK-4",),
    op=SK.hll_distinct, tables=("events",),
)


_BLOOM_POS_SQL = (
    "unnest(["
    + ", ".join(
        f"(h * {a} + {b}) % {SK.CMS_P} % {SK.BLOOM_M}"
        for a, b in zip(SK.BLOOM_A, SK.BLOOM_B)
    )
    + "])"
)


register(
    "bloom_membership",
    f"""
    WITH keyed AS (
      SELECT DISTINCT user_id FROM events WHERE user_id IS NOT NULL
    ), mem AS (
      SELECT DISTINCT user_id FROM events
      WHERE user_id IS NOT NULL AND event_type = 'purchase'
    ), hp AS (
      SELECT user_id,
             ('0x' || substr(md5(user_id::VARCHAR), 1, 13))::BIGINT AS h
      FROM keyed
    ), pos AS (
      SELECT DISTINCT user_id, {_BLOOM_POS_SQL} AS bit FROM hp
    ), bits AS (
      SELECT DISTINCT bit FROM pos JOIN mem USING (user_id)
    ), per AS (
      SELECT p.user_id, COUNT(*)::BIGINT AS n_pos,
             SUM(CASE WHEN b.bit IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
               AS n_hit
      FROM pos p LEFT JOIN bits b ON p.bit = b.bit
      GROUP BY 1
    ), flags AS (
      SELECT per.user_id,
             CASE WHEN n_hit = n_pos THEN 1 ELSE 0 END AS positive,
             CASE WHEN m.user_id IS NOT NULL THEN 1 ELSE 0 END AS is_member
      FROM per LEFT JOIN mem m USING (user_id)
    )
    SELECT COUNT(*)::BIGINT AS n_probes,
           SUM(is_member)::BIGINT AS n_members,
           (SELECT COUNT(*)::BIGINT FROM bits) AS n_set_bits,
           SUM(positive)::BIGINT AS n_positives,
           SUM(positive * is_member)::BIGINT AS n_member_positives,
           (SUM(positive) - SUM(positive * is_member))::BIGINT
             AS n_false_positives,
           CASE WHEN COUNT(*) - SUM(is_member) > 0 THEN
             ROUND((SUM(positive) - SUM(positive * is_member))::DOUBLE
                   / (COUNT(*) - SUM(is_member)), 6)
           END AS fpp_observed
    FROM flags
    """,
    tags=("SK-5",),
    op=SK.bloom_membership, tables=("events",),
)


register(
    "robust_daily_trend",
    """
    WITH daily AS (
      SELECT event_type, ts::DATE AS date, COUNT(*)::BIGINT AS n
      FROM events GROUP BY 1, 2
    ), pairs AS (
      SELECT a.event_type, a.date AS d1, b.date AS d2,
             (b.n - a.n)::BIGINT AS dn,
             date_diff('day', a.date, b.date)::INT AS dd
      FROM daily a JOIN daily b
        ON a.event_type = b.event_type AND a.date < b.date
    ), sl AS (SELECT *, dn / dd AS slope FROM pairs
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY slope, d1, d2) AS rn,
             COUNT(*) OVER (PARTITION BY event_type)::BIGINT AS n_pairs
      FROM sl
    ), med AS (
      SELECT event_type, slope FROM ranked WHERE rn = (n_pairs + 1) // 2
    ), st AS (
      SELECT event_type, COUNT(*)::BIGINT AS n_pairs,
             SUM(CASE WHEN dn > 0 THEN 1 WHEN dn < 0 THEN -1 ELSE 0
                 END)::BIGINT AS mann_kendall_s
      FROM sl GROUP BY 1
    ), nd AS (
      SELECT event_type, COUNT(*)::BIGINT AS n_days FROM daily GROUP BY 1
    )
    SELECT nd.event_type, nd.n_days, st.n_pairs,
           ROUND(med.slope, 6) AS theil_sen_slope, st.mann_kendall_s,
           CASE WHEN st.mann_kendall_s > 0 THEN 'increasing'
                WHEN st.mann_kendall_s < 0 THEN 'decreasing'
                ELSE 'flat' END AS trend
    FROM nd JOIN st USING (event_type) JOIN med USING (event_type)
    ORDER BY event_type
    """,
    tags=("AGG-10",),
    op=AN.robust_daily_trend, tables=("events",),
)


register(
    "weighted_median_price",
    """
    WITH per_price AS (
      SELECT l_returnflag, l_extendedprice::DECIMAL(18,2) AS price,
             SUM(l_quantity::DECIMAL(18,2)) AS w
      FROM lineitem GROUP BY 1, 2
    ), cum AS (
      SELECT *, SUM(w) OVER (PARTITION BY l_returnflag ORDER BY price
                             ROWS UNBOUNDED PRECEDING) AS cw,
             SUM(w) OVER (PARTITION BY l_returnflag) AS total
      FROM per_price
    ), eligible AS (SELECT * FROM cum WHERE cw * 2 >= total
    )
    SELECT l_returnflag,
           MIN(price)::DOUBLE AS weighted_median_price,
           MIN(total)::DOUBLE AS total_weight
    FROM eligible GROUP BY 1 ORDER BY 1
    """,
    tags=("AGG-11",),
    op=AN.weighted_median_price, tables=("lineitem",),
)


_MULTISET_LEG = (
    "SELECT user_id, event_type FROM events WHERE ts {op} "
    "'2024-01-15 00:00:00'::TIMESTAMP"
)


@register(
    "multiset_except_all",
    f"""
    WITH rem AS (
      {_MULTISET_LEG.format(op='<')}
      EXCEPT ALL
      {_MULTISET_LEG.format(op='>=')}
    )
    SELECT event_type, COUNT(*)::BIGINT AS n_surplus_rows,
           COUNT(DISTINCT user_id)::BIGINT AS n_users
    FROM rem GROUP BY 1 ORDER BY 1
    """,
    tags=("SET-4",),
)
def q_multiset_except_all(spark, sf_dir):
    """SET-4 EXCEPT ALL (multiset difference): per (user, type) the
    first-half occurrences beyond the second half's count — bag
    semantics SET-2's anti-join (existence only) cannot express.
    Plans as one count-aggregate per leg joined on the key, so the
    event table shuffles once per leg, pre-combined map-side."""
    from pyspark.sql import functions as F

    ev = _events(spark, sf_dir)
    cut = F.lit("2024-01-15 00:00:00").cast("timestamp")
    cols = ["user_id", "event_type"]
    first = ev.filter(F.col("ts") < cut).select(cols)
    second = ev.filter(F.col("ts") >= cut).select(cols)
    return (
        first.exceptAll(second)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_surplus_rows"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


@register(
    "multiset_intersect_all",
    f"""
    WITH rem AS (
      {_MULTISET_LEG.format(op='<')}
      INTERSECT ALL
      {_MULTISET_LEG.format(op='>=')}
    )
    SELECT event_type, COUNT(*)::BIGINT AS n_common_rows,
           COUNT(DISTINCT user_id)::BIGINT AS n_users
    FROM rem GROUP BY 1 ORDER BY 1
    """,
    tags=("SET-5",),
)
def q_multiset_intersect_all(spark, sf_dir):
    """SET-5 INTERSECT ALL (multiset intersection): min of the two
    halves' occurrence counts per (user, type) — the bag twin of
    SET-1's distinct INTERSECT; same one-shuffle-per-leg count-join
    plan as SET-4."""
    from pyspark.sql import functions as F

    ev = _events(spark, sf_dir)
    cut = F.lit("2024-01-15 00:00:00").cast("timestamp")
    cols = ["user_id", "event_type"]
    first = ev.filter(F.col("ts") < cut).select(cols)
    second = ev.filter(F.col("ts") >= cut).select(cols)
    return (
        first.intersectAll(second)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_common_rows"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy("event_type")
    )


_BENFORD_P = "(ln((digit + 1) / digit) / ln(10.0::DOUBLE))"


@register(
    "benford_first_digit",
    f"""
    WITH cents AS (
      SELECT (o_totalprice::DECIMAL(18,2) * 100)::BIGINT AS cents
      FROM orders
    ), obs AS (
      SELECT substr(cents::VARCHAR, 1, 1)::INT AS digit,
             COUNT(*)::BIGINT AS n_obs
      FROM cents WHERE cents > 0 GROUP BY 1
    ), tot AS (SELECT SUM(n_obs)::BIGINT AS n_total FROM obs)
    SELECT digit, n_obs,
           ROUND(n_obs / n_total, 6) AS obs_p,
           ROUND({_BENFORD_P}, 6) AS benford_p,
           ROUND((n_obs - n_total * {_BENFORD_P})
                 * (n_obs - n_total * {_BENFORD_P})
                 / (n_total * {_BENFORD_P}), 4) AS chi2_term
    FROM obs CROSS JOIN tot ORDER BY digit
    """,
    tags=("AD-10",),
)
def q_benford_first_digit(spark, sf_dir):
    """AD-10 Benford conformance: leading-digit distribution of order
    totals vs log10(1+1/d) with per-digit chi-square terms — lead
    digits come from exact DECIMAL-cent strings (never float log10),
    expected probs are bit-identical ln-ratio chains."""
    from bigdata_logs_spark.operators import anomaly as AD

    return AD.benford_first_digit(load_table(spark, sf_dir, "orders"))


def _kcore_oracle(k: int = 3, rounds: int = 4) -> str:
    base = (
        TOKEN_DIR_CTES
        + """, e0 AS (SELECT src, dst FROM dir GROUP BY 1, 2)
    """
    )
    for r in range(1, rounds + 1):
        base += f"""
    , a{r} AS (SELECT src FROM e{r-1} GROUP BY src HAVING COUNT(*) >= {k})
    , e{r} AS (
      SELECT e.src, e.dst FROM e{r-1} e
      JOIN a{r} x ON e.src = x.src JOIN a{r} y ON e.dst = y.src)
    """
    legs = [
        f"""SELECT {r} AS round,
            (SELECT COUNT(DISTINCT src)::BIGINT FROM e{r}) AS n_nodes,
            (SELECT (COUNT(*) // 2)::BIGINT FROM e{r}) AS n_edges"""
        for r in range(rounds + 1)
    ]
    return base + "\n    UNION ALL ".join(legs) + "\n    ORDER BY round"


register(
    "token_graph_kcore",
    _kcore_oracle(),
    tags=("G-5",),
    op=G.token_graph_kcore, tables=("documents",),
)


@register(
    "confusable_usernames",
    SSH_PARSE_CTE
    + """
    , users AS (
      SELECT user AS name, COUNT(*)::BIGINT AS n_attempts
      FROM parsed WHERE user IS NOT NULL GROUP BY 1
    ), keyed AS (
      SELECT DISTINCT name, n_attempts, unnest(list_distinct(list_append(
        list_transform(range(1, length(name) + 1),
          i -> substr(name, 1, i - 1) || substr(name, i + 1)), name)))
        AS k
      FROM users
    ), cand AS (
      SELECT DISTINCT a.name, a.n_attempts, b.name AS neighbor
      FROM keyed a JOIN keyed b ON a.k = b.k AND a.name != b.name
    )
    SELECT name, n_attempts, COUNT(*)::BIGINT AS n_confusables,
           MIN(neighbor) AS first_neighbor
    FROM cand WHERE levenshtein(name, neighbor) = 1
    GROUP BY 1, 2 ORDER BY name
    """,
    tags=("T-24",),
)
def q_confusable_usernames(spark, sf_dir):
    """T-24 one-keystroke confusable usernames: FastSS deletion-
    neighbourhood blocking (exact recall for edit distance 1, no
    all-pairs) + built-in levenshtein verify over the attempted-user
    table — the typo-squat / credential-stuffing campaign signal."""
    return TX.confusable_usernames(
        parse_ssh_lines(_ssh_lines(spark, sf_dir))
    )


register(
    "kwic_concordance",
    TOKS_CTE
    + """
    , nonempty AS (SELECT * FROM toks WHERE len(tokens) > 0
    ), counts AS (
      SELECT unnest(tokens) AS term FROM nonempty
    ), top AS (
      SELECT term, COUNT(*) AS n FROM counts
      GROUP BY 1 ORDER BY n DESC, term LIMIT 3
    ), occ AS (
      SELECT doc_id, tokens,
             unnest(range(1, len(tokens) + 1)) AS pos
      FROM nonempty
    ), hit AS (
      SELECT t.term, o.doc_id, o.pos::INT AS pos,
             COALESCE(array_to_string(list_slice(
               o.tokens, greatest(o.pos - 2, 1), o.pos - 1), ' '), '')
               AS left_ctx,
             COALESCE(array_to_string(list_slice(
               o.tokens, o.pos + 1, least(len(o.tokens), o.pos + 2)), ' '),
               '') AS right_ctx
      FROM occ o JOIN top t ON o.tokens[o.pos] = t.term
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY term ORDER BY doc_id, pos) AS rn
      FROM hit
    )
    SELECT term, doc_id, pos, left_ctx, right_ctx
    FROM ranked WHERE rn <= 50
    ORDER BY term, doc_id, pos
    """,
    tags=("T-25",),
    op=TX.kwic_concordance, tables=("documents",),
)


register(
    "inverted_index_postings",
    TOKS_CTE
    + """
    , tfs AS (
      SELECT doc_id, unnest(tokens) AS token FROM toks
    ), per AS (
      SELECT token, doc_id, COUNT(*)::BIGINT AS tf FROM tfs GROUP BY 1, 2
    ), agg AS (
      SELECT token, COUNT(*)::BIGINT AS df, SUM(tf)::BIGINT AS total_tf,
             array_to_string(
               list_slice(list_sort(list(doc_id)), 1, 10), ',')
               AS postings_head
      FROM per GROUP BY 1
    )
    SELECT * FROM agg ORDER BY df DESC, token LIMIT 20
    """,
    tags=("PL-19",),
    op=TX.inverted_index_postings, tables=("documents",),
)


_NORM_H = (
    "md5(trim(regexp_replace(regexp_replace(lower(trim(text)), "
    "'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')))"
)


register(
    "normalization_dedup",
    f"""
    SELECT source, COUNT(*)::BIGINT AS n_docs,
           COUNT(DISTINCT md5(text))::BIGINT AS n_raw_distinct,
           COUNT(DISTINCT {_NORM_H})::BIGINT AS n_norm_distinct,
           (COUNT(DISTINCT md5(text)) - COUNT(DISTINCT {_NORM_H}))::BIGINT
             AS n_groups_merged_by_norm
    FROM documents GROUP BY 1 ORDER BY 1
    """,
    tags=("DD-16",),
    op=DD.normalization_dedup, tables=("documents",),
)


def _bfs_oracle(hops: int = 4) -> str:
    base = (
        TOKEN_DIR_CTES
        + """, e0 AS (SELECT src, dst FROM dir GROUP BY 1, 2
    ), deg AS (SELECT src, COUNT(*)::BIGINT AS deg FROM e0 GROUP BY 1
    ), f0 AS (SELECT src FROM deg ORDER BY deg DESC, src LIMIT 1
    ), v0 AS (SELECT src FROM f0)
    """
    )
    for h in range(1, hops + 1):
        base += f"""
    , f{h} AS (
      SELECT DISTINCT e.dst AS src FROM e0 e
      JOIN f{h-1} f ON e.src = f.src
      EXCEPT SELECT src FROM v{h-1})
    , v{h} AS (SELECT src FROM v{h-1} UNION SELECT src FROM f{h})
    """
    legs = [
        f"SELECT {h} AS hop, "
        f"(SELECT COUNT(*)::BIGINT FROM f{h}) AS n_new_nodes"
        for h in range(hops + 1)
    ]
    return base + "\n    UNION ALL ".join(legs) + "\n    ORDER BY hop"


register(
    "bfs_reachability",
    _bfs_oracle(),
    tags=("G-6",),
    op=G.bfs_reachability, tables=("documents",),
)


register(
    "knn_diversity",
    f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS q_emb
      FROM embeddings WHERE vec_id < 5
    ), scored AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             ROUND({DOT_SQL.format(a='q.q_emb', b='c.embedding')}
                   / (SQRT({DOT_SQL.format(a='q.q_emb', b='q.q_emb')})
                      * SQRT({DOT_SQL.format(a='c.embedding', b='c.embedding')})), 6)
               AS cosine
      FROM q CROSS JOIN embeddings c
      WHERE q.query_id != c.vec_id
    ), ranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
      FROM scored
    ), nbr AS (
      SELECT query_id, rank, neighbor_id FROM ranked WHERE rank <= 5
    ), pr AS (
      SELECT a.query_id, a.neighbor_id AS na, b.neighbor_id AS nb
      FROM nbr a JOIN nbr b
        ON a.query_id = b.query_id AND a.rank < b.rank
    ), sc AS (
      SELECT pr.query_id,
             ROUND({DOT_SQL.format(a='ea.embedding', b='eb.embedding')}
                   / (SQRT({DOT_SQL.format(a='ea.embedding', b='ea.embedding')})
                      * SQRT({DOT_SQL.format(a='eb.embedding', b='eb.embedding')})), 6)
               AS cosine
      FROM pr JOIN embeddings ea ON pr.na = ea.vec_id
              JOIN embeddings eb ON pr.nb = eb.vec_id
    )
    SELECT query_id, COUNT(*)::BIGINT AS n_pairs,
           ROUND(SUM(ROUND(cosine * 1000000.0, 0)::BIGINT)::BIGINT
                 / COUNT(*) / 1000000.0, 6) AS mean_pairwise_cosine,
           MIN(cosine) AS min_pairwise_cosine
    FROM sc GROUP BY 1 ORDER BY 1
    """,
    tags=("E-20",),
    op=SIM.knn_diversity, tables=("embeddings",),
)


register(
    "modal_activity_profile",
    """
    WITH hours AS (
      SELECT event_type, hour(ts)::INT AS hour, COUNT(*)::BIGINT AS n
      FROM events GROUP BY 1, 2
    ), mh AS (
      SELECT event_type, hour, n, ROW_NUMBER() OVER (
        PARTITION BY event_type ORDER BY n DESC, hour) AS rn
      FROM hours
    ), dows AS (
      SELECT event_type,
             ((ts::DATE - DATE '1970-01-01' + 3) % 7)::INT AS dow,
             COUNT(*)::BIGINT AS n
      FROM events GROUP BY 1, 2
    ), md AS (
      SELECT event_type, dow, n, ROW_NUMBER() OVER (
        PARTITION BY event_type ORDER BY n DESC, dow) AS rn
      FROM dows
    )
    SELECT event_type, mh.hour AS modal_hour,
           mh.n AS n_at_modal_hour, md.dow AS modal_dow,
           md.n AS n_at_modal_dow
    FROM mh JOIN md USING (event_type)
    WHERE mh.rn = 1 AND md.rn = 1
    ORDER BY event_type
    """,
    tags=("AGG-12",),
    op=AN.modal_activity_profile, tables=("events",),
)


register(
    "holt_linear_trend",
    """
    WITH RECURSIVE daily AS (
      SELECT event_type, ts::DATE AS date, COUNT(*)::DOUBLE AS y
      FROM events GROUP BY 1, 2
    ), idx AS (
      SELECT *, ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY date) AS t,
             COUNT(*) OVER (PARTITION BY event_type)::BIGINT AS n_days
      FROM daily
    ), init AS (
      SELECT a.event_type, b.y AS y2, a.y AS y1
      FROM idx a JOIN idx b
        ON a.event_type = b.event_type AND a.t = 1 AND b.t = 2
    ), rec AS (
      SELECT event_type, 2 AS t, y2 AS l, y2 - y1 AS b FROM init
      UNION ALL
      SELECT r.event_type, r.t + 1,
             0.5::DOUBLE * d.y + 0.5::DOUBLE * (r.l + r.b),
             0.5::DOUBLE * ((0.5::DOUBLE * d.y
               + 0.5::DOUBLE * (r.l + r.b)) - r.l) + 0.5::DOUBLE * r.b
      FROM rec r JOIN idx d
        ON d.event_type = r.event_type AND d.t = r.t + 1
    ), fin AS (
      SELECT event_type, MAX(t) AS t_last FROM rec GROUP BY 1
    ), last AS (
      SELECT r.event_type, r.l, r.b
      FROM rec r JOIN fin f
        ON r.event_type = f.event_type AND r.t = f.t_last
    )
    SELECT i.event_type, i.n_days,
           ROUND(last.l, 4) AS level, ROUND(last.b, 4) AS trend,
           ROUND(last.l + last.b, 4) AS forecast_next
    FROM (SELECT DISTINCT event_type, n_days FROM idx) i
    LEFT JOIN last USING (event_type)
    ORDER BY i.event_type
    """,
    tags=("W-12",),
    op=AN.holt_linear_trend, tables=("events",),
)


@register(
    "streaming_cms_heavy_hitters",
    SSH_PARSE_CTE
    + """
    , counts AS (
      SELECT ip, COUNT(*)::BIGINT AS exact_count
      FROM parsed WHERE ip IS NOT NULL GROUP BY 1
    ), hashed AS (
      SELECT ip, exact_count,
             list_reduce(list_transform(range(1, length(ip) + 1),
                         i -> ascii(substr(ip, i, 1))::BIGINT),
                         (acc, c) -> (acc * 31 + c) % 1000000007) AS h
      FROM counts
    ), cells AS (
      SELECT ip, exact_count, j.x AS row,
             ((h * CASE j.x WHEN 0 THEN 3 WHEN 1 THEN 5
                            WHEN 2 THEN 7 ELSE 11 END
               + CASE j.x WHEN 0 THEN 17 WHEN 1 THEN 29
                          WHEN 2 THEN 41 ELSE 53 END)
              % 1000000007) % 128 AS bucket
      FROM hashed, (SELECT unnest(range(0, 4)) AS x) j
    ), counters AS (
      SELECT row, bucket, SUM(exact_count)::BIGINT AS counter
      FROM cells GROUP BY 1, 2
    ), estimates AS (
      SELECT c.ip, c.exact_count, MIN(k.counter)::BIGINT AS cms_estimate
      FROM cells c JOIN counters k ON k.row = c.row AND k.bucket = c.bucket
      GROUP BY 1, 2
    )
    SELECT ip, exact_count, cms_estimate,
           (cms_estimate - exact_count)::BIGINT AS overestimate
    FROM estimates ORDER BY exact_count DESC, ip LIMIT 10
    """,
    tags=("ST-15",),
)
def q_streaming_cms_heavy_hitters(spark, sf_dir):
    """ST-15 streaming CMS: the engine drains the SSH file stream
    while foreachBatch sums each batch's
    (row, bucket) increments into a 4x128-cell parquet counter state
    (counter addition is associative+commutative, so the drained
    table is bit-identical under ANY batch split — the third
    streaming query to earn a full hash-match oracle, after ST-13's
    min-k union and ST-14's append-only fingerprints). The report
    reads the top-10 source IPs' estimates from the drained state
    beside the exact batch counts. The source here is one file, so it
    drains in one micro-batch; multi-batch drains are covered by
    ``TestStreamingCms::test_batch_split_invariant_and_bounded``."""
    from pyspark.sql import functions as F

    from bigdata_logs_spark.streaming.ingest import streaming_cms_state

    counters = _drained_state(spark, sf_dir, streaming_cms_state, "bls_cms_state")
    exact = _ssh_ips(spark, sf_dir).groupBy("ip").agg(
        F.count(F.lit(1)).alias("exact_count")
    )
    cells = exact.withColumn("h", F.expr(SK._poly_hash_expr("ip"))).select(
        "ip", "exact_count", SK.cms_cells(F.col("h"))
    )
    return SK.cms_estimates(cells, counters, "ip", 10)


@register(
    "streaming_hll_distinct",
    SSH_PARSE_CTE
    + f"""
    , hashed AS (
      SELECT DISTINCT ('0x' || substr(md5(ip), 1, 13))::BIGINT AS h
      FROM parsed WHERE ip IS NOT NULL
    ), parts AS (
      SELECT h >> {SK.HLL_FIELD} AS idx, h & {SK.HLL_FIELD_MASK} AS w
      FROM hashed
    ), regs AS (
      SELECT idx,
             MAX({HLL_RHO_SQL})::BIGINT AS r
      FROM parts GROUP BY 1
    ), z AS (
      SELECT SUM(1::BIGINT << ({SK.HLL_RHO_MAX} - r)::INT)::BIGINT
               AS z_present,
             COUNT(*)::BIGINT AS m_present
      FROM regs
    ), est AS (
      SELECT ({SK.HLL_M} - m_present)::BIGINT AS v,
             {HLL_RAW_SQL} AS raw
      FROM z
    ), corr AS (
      SELECT v,
             {HLL_ESTIMATE_SQL} AS hll_estimate
      FROM est
    ), ex AS (
      SELECT COUNT(DISTINCT ip)::BIGINT AS n_exact
      FROM parsed WHERE ip IS NOT NULL
    )
    SELECT ex.n_exact, corr.hll_estimate, corr.v AS n_zero_registers,
           ROUND((corr.hll_estimate - ex.n_exact) / ex.n_exact, 4)
             AS rel_error
    FROM corr, ex
    """,
    tags=("ST-16",),
)
def q_streaming_hll_distinct(spark, sf_dir):
    """ST-16 streaming HLL: the engine drains the SSH file stream
    while foreachBatch MAX-merges each
    batch's (register, rho) observations into a <=64-row parquet
    register state (``streaming_hll_state``). Register update is
    associative, commutative AND idempotent, so the drained state —
    and the estimate read from it — is bit-identical under any batch
    split and under replayed input: the strongest of the streaming
    invariances (ST-15's counters tolerate resplitting but not
    replay), and the fourth streaming query with a full hash-match
    oracle. The report reads SK-4's estimate arithmetic off the
    drained registers beside the exact distinct-IP count. The source
    here is one file, so it drains in one micro-batch; multi-batch
    drains are covered by
    ``test_streaming_hll_state_split_and_replay_invariant``."""
    from pyspark.sql import functions as F

    from bigdata_logs_spark.streaming.ingest import streaming_hll_state

    regs = _drained_state(spark, sf_dir, streaming_hll_state, "bls_hll_state")
    exact = _ssh_ips(spark, sf_dir).agg(F.countDistinct("ip").alias("n_exact"))
    return SK.hll_estimate_from_registers(regs).crossJoin(F.broadcast(exact)).select(
        "n_exact",
        "hll_estimate",
        "n_zero_registers",
        F.round(
            (F.col("hll_estimate") - F.col("n_exact")) / F.col("n_exact"), 4
        ).alias("rel_error"),
    )


register(
    "corpus_dedup_funnel",
    ND_COMPONENTS_CTES
    + f"""
    , compfull AS (
      SELECT d.doc_id, COALESCE(c.component, d.doc_id) AS component
      FROM documents d LEFT JOIN comp c USING (doc_id)
    ), tok_counts AS (
      SELECT doc_id, len(tokens)::BIGINT AS n_tok FROM toks
    ), hashes AS (
      SELECT doc_id, md5(text) AS raw_h, {_NORM_H} AS norm_h FROM documents
    ), s1 AS (
      SELECT MIN(doc_id) AS doc_id FROM hashes GROUP BY raw_h
    ), s2 AS (
      SELECT MIN(h.doc_id) AS doc_id FROM hashes h JOIN s1 USING (doc_id)
      GROUP BY h.norm_h
    ), s3 AS (
      SELECT MIN(r.doc_id) AS doc_id FROM s2 r JOIN compfull c USING (doc_id)
      GROUP BY c.component
    )
    SELECT '0_raw' AS stage, COUNT(*)::BIGINT AS n_docs,
           SUM(n_tok)::BIGINT AS n_tokens FROM tok_counts
    UNION ALL SELECT '1_exact', COUNT(*)::BIGINT, SUM(n_tok)::BIGINT
      FROM s1 JOIN tok_counts USING (doc_id)
    UNION ALL SELECT '2_normalized', COUNT(*)::BIGINT, SUM(n_tok)::BIGINT
      FROM s2 JOIN tok_counts USING (doc_id)
    UNION ALL SELECT '3_near_dup', COUNT(*)::BIGINT, SUM(n_tok)::BIGINT
      FROM s3 JOIN tok_counts USING (doc_id)
    ORDER BY stage
    """,
    tags=("PL-20",),
    op=PL.corpus_dedup_funnel, tables=("documents",),
)


register(
    "ams_f2_skew",
    f"""
    WITH counts AS (
      SELECT event_type, user_id, COUNT(*)::BIGINT AS c
      FROM events WHERE user_id IS NOT NULL GROUP BY 1, 2
    ), hashed AS (
      SELECT event_type, c,
             ('0x' || substr(md5(user_id::VARCHAR), 1, 13))::BIGINT AS h
      FROM counts
    ), acc AS (
      SELECT event_type, j.x AS j,
             SUM(CASE WHEN (h >> j.x) & 1 = 1 THEN c ELSE -c END)::BIGINT
               AS z
      FROM hashed, (SELECT unnest(range(0, {SK.AMS_D})) AS x) j
      GROUP BY 1, 2
    ), sq AS (SELECT event_type, j, (z * z)::BIGINT AS est FROM acc
    ), med AS (
      SELECT event_type, est AS ams_estimate FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY event_type ORDER BY est, j) AS rn
        FROM sq) WHERE rn = {(SK.AMS_D + 1) // 2}
    ), ex AS (
      SELECT event_type, COUNT(*)::BIGINT AS n_keys,
             SUM(c * c)::BIGINT AS f2_exact
      FROM counts GROUP BY 1
    )
    SELECT ex.event_type, ex.n_keys, ex.f2_exact, med.ams_estimate,
           ROUND((med.ams_estimate - ex.f2_exact) / ex.f2_exact, 4)
             AS rel_error
    FROM ex JOIN med USING (event_type) ORDER BY event_type
    """,
    tags=("SK-6",),
    op=SK.ams_f2_skew, tables=("events",),
)


register(
    "value_boxplot_stats",
    """
    WITH ranked AS (
      SELECT event_type, value, ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type)::BIGINT AS n
      FROM events
    ), picks AS (
      SELECT event_type, MAX(n)::BIGINT AS n,
             MIN(CASE WHEN rn = (n + 3) // 4 THEN value END) AS q1,
             MIN(CASE WHEN rn = (n + 1) // 2 THEN value END) AS median,
             MIN(CASE WHEN rn = (3 * n + 3) // 4 THEN value END) AS q3
      FROM ranked
      WHERE rn = (n + 3) // 4 OR rn = (n + 1) // 2
         OR rn = (3 * n + 3) // 4
      GROUP BY 1
    ), bounds AS (
      SELECT *, q1 - 1.5::DOUBLE * (q3 - q1) AS lo,
             q3 + 1.5::DOUBLE * (q3 - q1) AS hi
      FROM picks
    )
    SELECT e.event_type, MAX(b.n)::BIGINT AS n, MAX(b.q1) AS q1,
           MAX(b.median) AS median, MAX(b.q3) AS q3,
           ROUND(MAX(b.q3) - MAX(b.q1), 4) AS iqr,
           SUM(CASE WHEN e.value < b.lo THEN 1 ELSE 0 END)::BIGINT
             AS n_low_outliers,
           SUM(CASE WHEN e.value > b.hi THEN 1 ELSE 0 END)::BIGINT
             AS n_high_outliers
    FROM events e JOIN bounds b USING (event_type)
    GROUP BY 1 ORDER BY 1
    """,
    tags=("AGG-13",),
    op=AN.value_boxplot_stats, tables=("events",),
)


register(
    "longest_event_streaks",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (
               PARTITION BY user_id ORDER BY ts, event_id)
             - ROW_NUMBER() OVER (
               PARTITION BY user_id, event_type ORDER BY ts, event_id)
               AS grp
      FROM events
    ), streaks AS (
      SELECT user_id, event_type, grp, COUNT(*)::BIGINT AS streak
      FROM seq GROUP BY 1, 2, 3
    ), pick AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY event_type ORDER BY streak DESC, user_id, grp) AS rn
      FROM streaks
    )
    SELECT event_type, streak AS max_streak, user_id AS user_id_at_max
    FROM pick WHERE rn = 1 ORDER BY event_type
    """,
    tags=("W-13",),
    op=AN.longest_event_streaks, tables=("events",),
)


register(
    "mmr_rerank",
    f"""
    WITH q AS (
      SELECT vec_id AS query_id, embedding AS q_emb
      FROM embeddings WHERE vec_id < 3
    ), qscored AS (
      SELECT q.query_id, c.vec_id AS nid,
             ROUND({DOT_SQL.format(a='q.q_emb', b='c.embedding')}
                   / (SQRT({DOT_SQL.format(a='q.q_emb', b='q.q_emb')})
                      * SQRT({DOT_SQL.format(a='c.embedding', b='c.embedding')})), 6)
               AS qcos
      FROM q CROSS JOIN embeddings c
      WHERE q.query_id != c.vec_id
    ), qranked AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY qcos DESC, nid) AS rank
      FROM qscored
    ), short AS (
      SELECT query_id, nid, qcos FROM qranked WHERE rank <= 10
    ), sims AS (
      SELECT a.query_id, a.nid AS na, b.nid AS nb,
             ROUND({DOT_SQL.format(a='ea.embedding', b='eb.embedding')}
                   / (SQRT({DOT_SQL.format(a='ea.embedding', b='ea.embedding')})
                      * SQRT({DOT_SQL.format(a='eb.embedding', b='eb.embedding')})), 6)
               AS sim
      FROM short a JOIN short b
        ON a.query_id = b.query_id AND a.nid != b.nid
      JOIN embeddings ea ON a.nid = ea.vec_id
      JOIN embeddings eb ON b.nid = eb.vec_id
    ), s1 AS (
      SELECT query_id, nid, qcos FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY qcos DESC, nid) AS rnk
        FROM short) WHERE rnk = 1
    ), m2 AS (
      SELECT s.query_id, s.nid, s.qcos, sims.sim AS max_sim_selected,
             0.5::DOUBLE * s.qcos - 0.5::DOUBLE * sims.sim AS score
      FROM short s
      JOIN s1 ON s.query_id = s1.query_id AND s.nid != s1.nid
      JOIN sims ON sims.query_id = s.query_id
               AND sims.na = s.nid AND sims.nb = s1.nid
    ), s2 AS (
      SELECT query_id, nid, qcos, max_sim_selected, score FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY score DESC, nid) AS rnk
        FROM m2) WHERE rnk = 1
    ), sel12 AS (
      SELECT query_id, nid FROM s1
      UNION ALL SELECT query_id, nid FROM s2
    ), m3 AS (
      SELECT s.query_id, s.nid, s.qcos,
             MAX(sims.sim) AS max_sim_selected
      FROM short s
      JOIN sims ON sims.query_id = s.query_id AND sims.na = s.nid
      JOIN sel12 ON sel12.query_id = sims.query_id
                AND sel12.nid = sims.nb
      WHERE NOT EXISTS (SELECT 1 FROM sel12 x
                        WHERE x.query_id = s.query_id AND x.nid = s.nid)
      GROUP BY 1, 2, 3
    ), sc3 AS (
      SELECT *, 0.5::DOUBLE * qcos - 0.5::DOUBLE * max_sim_selected AS score
      FROM m3
    ), s3 AS (
      SELECT query_id, nid, qcos, max_sim_selected, score FROM (
        SELECT *, ROW_NUMBER() OVER (
          PARTITION BY query_id ORDER BY score DESC, nid) AS rnk
        FROM sc3) WHERE rnk = 1
    )
    SELECT query_id, 1 AS select_rank, nid AS neighbor_id, qcos,
           0.0::DOUBLE AS max_sim_selected,
           ROUND(0.5::DOUBLE * qcos, 6) AS mmr_score
    FROM s1
    UNION ALL SELECT query_id, 2, nid, qcos, max_sim_selected,
           ROUND(score, 6) FROM s2
    UNION ALL SELECT query_id, 3, nid, qcos, max_sim_selected,
           ROUND(score, 6) FROM s3
    ORDER BY query_id, select_rank
    """,
    tags=("E-21",),
    op=SIM.mmr_rerank, tables=("embeddings",),
)


register(
    "nearest_event_join",
    """
    WITH l AS (
      SELECT event_id AS eid, user_id,
             CAST(floor(epoch(ts)) AS BIGINT) AS tl
      FROM events WHERE event_type = 'error'
    ), r AS (
      SELECT user_id AS r_user, event_id AS pid,
             CAST(floor(epoch(ts)) AS BIGINT) AS tr
      FROM events WHERE event_type = 'purchase'
    ), j AS (
      SELECT l.eid, r.pid, ABS(r.tr - l.tl) AS g, r.tr
      FROM l LEFT JOIN r
        ON l.user_id = r.r_user AND ABS(r.tr - l.tl) <= 3600
    ), pick AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY eid ORDER BY g, tr, pid) AS rn
      FROM j
    ), b AS (
      SELECT CASE WHEN pid IS NULL THEN 'unmatched'
                  WHEN g <= 60 THEN '0-60s'
                  WHEN g <= 300 THEN '60-300s'
                  WHEN g <= 1800 THEN '300-1800s'
                  ELSE '1800-3600s' END AS gap_bucket
      FROM pick WHERE rn = 1
    )
    SELECT gap_bucket, COUNT(*)::BIGINT AS n FROM b
    GROUP BY 1 ORDER BY 1
    """,
    tags=("J-17",),
    op=J.nearest_event_join, tables=("events",),
)


register(
    "weekly_pct_change",
    """
    WITH weekly AS (
      SELECT event_type,
             ((ts::DATE - DATE '1970-01-01' + 3) // 7)::BIGINT AS week_idx,
             COUNT(*)::BIGINT AS n
      FROM events GROUP BY 1, 2
    )
    SELECT event_type, week_idx, n,
           LAG(n) OVER w AS prev_n,
           ROUND((n - LAG(n) OVER w) / LAG(n) OVER w, 4) AS wow_pct
    FROM weekly
    WINDOW w AS (PARTITION BY event_type ORDER BY week_idx)
    ORDER BY event_type, week_idx
    """,
    tags=("W-14",),
    op=AN.weekly_pct_change, tables=("events",),
)


register(
    "behavioral_entropy",
    """
    WITH per AS (
      SELECT user_id, event_type, COUNT(*)::BIGINT AS n
      FROM events GROUP BY 1, 2
    ), tot AS (
      SELECT *, SUM(n) OVER (PARTITION BY user_id)::BIGINT AS total
      FROM per
    ), terms AS (
      SELECT user_id, total,
             n * ROUND(ln(total::DOUBLE / n) * 1000000.0, 0)::BIGINT AS term
      FROM tot
    ), pu AS (
      SELECT user_id, (SUM(term) // MAX(total))::BIGINT AS e_micro
      FROM terms GROUP BY 1
    )
    SELECT (e_micro // 100000)::INT AS bucket,
           COUNT(*)::BIGINT AS n_users,
           ROUND(SUM(e_micro)::BIGINT / COUNT(*) / 1000000.0, 6)
             AS avg_entropy_nats
    FROM pu GROUP BY 1 ORDER BY 1
    """,
    tags=("AGG-14",),
    op=AN.behavioral_entropy, tables=("events",),
)


register(
    "top_value_days_with_ties",
    """
    WITH daily AS (
      SELECT event_type, strftime(ts, '%Y-%m-%d') AS date,
             SUM(value::DECIMAL(18,2)) AS total_d
      FROM events GROUP BY 1, 2
    ), r AS (
      SELECT *, RANK() OVER (
        PARTITION BY event_type ORDER BY total_d DESC) AS rnk
      FROM daily
    )
    SELECT event_type, rnk::INT AS rnk, date,
           total_d::DOUBLE AS total_value
    FROM r WHERE rnk <= 3 ORDER BY event_type, rnk, date
    """,
    tags=("D-54",),
    op=AN.top_value_days_with_ties, tables=("events",),
)


register(
    "cumulative_unique_users",
    """
    WITH fs AS (
      SELECT user_id, MIN(ts::DATE) AS first_date FROM events GROUP BY 1
    ), pd AS (
      SELECT first_date, COUNT(*)::BIGINT AS n_new FROM fs GROUP BY 1
    ), days AS (SELECT DISTINCT ts::DATE AS first_date FROM events)
    SELECT strftime(d.first_date, '%Y-%m-%d') AS date,
           COALESCE(pd.n_new, 0)::BIGINT AS n_new,
           SUM(COALESCE(pd.n_new, 0)) OVER (
             ORDER BY d.first_date ROWS UNBOUNDED PRECEDING)::BIGINT
             AS cum_users
    FROM days d LEFT JOIN pd USING (first_date) ORDER BY date
    """,
    tags=("W-15",),
    op=AN.cumulative_unique_users, tables=("events",),
)


register(
    "trimmed_mean_value",
    """
    WITH ranked AS (
      SELECT event_type, value, ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type)::BIGINT AS n
      FROM events
    ), kept AS (
      SELECT * FROM ranked
      WHERE rn > n * 5 // 100 AND rn <= n - n * 5 // 100
    )
    SELECT event_type, MAX(n)::BIGINT AS n_total,
           COUNT(*)::BIGINT AS n_kept,
           ROUND(SUM(value::DECIMAL(18,2))::DOUBLE / COUNT(*), 4)
             AS trimmed_mean
    FROM kept GROUP BY 1 ORDER BY 1
    """,
    tags=("AGG-15",),
    op=AN.trimmed_mean_value, tables=("events",),
)


register(
    "epoch_shuffle_shards",
    TOKS_CTE
    + """
    , keyed AS (
      SELECT doc_id, len(tokens)::BIGINT AS n_tok,
             ('0x' || substr(md5('epoch1' || ':' || doc_id::VARCHAR),
                             1, 13))::BIGINT AS h
      FROM toks
    )
    SELECT (h % 8)::INT AS shard, COUNT(*)::BIGINT AS n_docs,
           SUM(n_tok)::BIGINT AS n_tokens,
           arg_min(doc_id, h) AS first_doc_id,
           arg_max(doc_id, h) AS last_doc_id
    FROM keyed GROUP BY 1 ORDER BY 1
    """,
    tags=("PL-21",),
    op=PL.epoch_shuffle_shards, tables=("documents",),
)


register(
    "value_gini",
    """
    WITH ranked AS (
      SELECT event_type,
             (value::DECIMAL(18,2) * 100)::BIGINT AS cents,
             ROW_NUMBER() OVER (
               PARTITION BY event_type ORDER BY value, event_id) AS rn
      FROM events
    ), agg AS (
      SELECT event_type, COUNT(*)::BIGINT AS n,
             SUM(cents::HUGEINT) AS s,
             SUM((rn * cents)::HUGEINT) AS rs
      FROM ranked GROUP BY 1
    )
    SELECT event_type, n AS n_events,
           ROUND((2*rs - (n+1)*s)::DOUBLE / (n*s)::DOUBLE, 6) AS gini
    FROM agg ORDER BY event_type
    """,
    tags=("AGG-16",),
    op=AN.value_gini, tables=("events",),
)


register(
    "value_lorenz_deciles",
    """
    WITH per_user AS (
      SELECT user_id,
             SUM((value::DECIMAL(18,2) * 100))::DECIMAL(38,0)::BIGINT
               AS cents
      FROM events WHERE user_id IS NOT NULL GROUP BY 1
    ), ranked AS (
      SELECT cents,
             ROW_NUMBER() OVER (ORDER BY cents, user_id) AS rn,
             COUNT(*) OVER ()::BIGINT AS n
      FROM per_user
    ), dec AS (
      SELECT (rn - 1) * 10 // n AS decile, COUNT(*)::BIGINT AS n_users,
             SUM(cents)::BIGINT AS decile_cents
      FROM ranked GROUP BY 1
    )
    SELECT decile::BIGINT AS decile, n_users,
           ROUND(decile_cents::DOUBLE / 100, 2) AS decile_value,
           ROUND(decile_cents::DOUBLE / (SUM(decile_cents) OVER ()), 6)
             AS value_share,
           ROUND((SUM(decile_cents) OVER (ORDER BY decile
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::DOUBLE
                 / (SUM(decile_cents) OVER ()), 6) AS cum_value_share
    FROM dec ORDER BY decile
    """,
    tags=("AGG-18",),
    op=AN.value_lorenz_deciles, tables=("events",),
)


register(
    "rolling_active_users",
    """
    WITH pres AS (
      SELECT DISTINCT user_id,
             (ts::DATE - DATE '1970-01-01')::BIGINT AS d
      FROM events
    ), seg AS (
      SELECT user_id, d,
             LEAST(d + 6, COALESCE(LEAD(d) OVER (
               PARTITION BY user_id ORDER BY d) - 1, d + 6)) AS hi
      FROM pres
    ), covered AS (
      SELECT user_id, unnest(generate_series(d, hi)) AS cd FROM seg
    ), wau AS (
      SELECT cd AS d, COUNT(*)::BIGINT AS wau FROM covered GROUP BY 1
    ), dau AS (
      SELECT d, COUNT(*)::BIGINT AS dau FROM pres GROUP BY 1
    )
    SELECT strftime(DATE '1970-01-01' + dau.d::INT, '%Y-%m-%d') AS date,
           dau.dau, wau.wau,
           ROUND(dau.dau::DOUBLE / wau.wau, 6) AS stickiness
    FROM dau JOIN wau ON dau.d = wau.d
    ORDER BY date
    """,
    tags=("W-16",),
    op=AN.rolling_active_users, tables=("events",),
)


register(
    "association_rules",
    """
    WITH baskets AS (
      SELECT DISTINCT user_id, event_type FROM events
    ), tu AS (
      SELECT event_type, COUNT(*)::BIGINT AS n_t FROM baskets GROUP BY 1
    ), tot AS (
      SELECT COUNT(DISTINCT user_id)::BIGINT AS n_users FROM baskets
    ), pairs AS (
      SELECT a.event_type AS antecedent, b.event_type AS consequent,
             COUNT(*)::BIGINT AS n_ab
      FROM baskets a JOIN baskets b USING (user_id)
      WHERE a.event_type <> b.event_type
      GROUP BY 1, 2 HAVING COUNT(*) >= 2
    )
    SELECT antecedent, consequent, n_ab,
           ROUND(n_ab::DOUBLE / n_users, 6) AS support,
           ROUND(n_ab::DOUBLE / na.n_t, 6) AS confidence,
           ROUND((n_ab * n_users)::DOUBLE / (na.n_t * nb.n_t)::DOUBLE, 6)
             AS lift
    FROM pairs
    JOIN tu na ON na.event_type = pairs.antecedent
    JOIN tu nb ON nb.event_type = pairs.consequent
    CROSS JOIN tot
    ORDER BY antecedent, consequent
    """,
    tags=("AGG-17",),
    op=AN.association_rules, tables=("events",),
)


register(
    "markov_stationary",
    """
    WITH seq AS (
      SELECT user_id, event_type,
             LEAD(event_type) OVER (
               PARTITION BY user_id ORDER BY ts, event_id) AS nxt
      FROM events
    ), edges AS (
      SELECT event_type AS src, nxt AS dst, COUNT(*)::BIGINT AS n
      FROM seq WHERE nxt IS NOT NULL GROUP BY 1, 2
    ), outw AS (
      SELECT src, SUM(n)::BIGINT AS ow FROM edges GROUP BY 1
    ), g AS (
      SELECT e.src, e.dst, e.n, o.ow FROM edges e JOIN outw o USING (src)
    ), nodes AS (
      SELECT DISTINCT event_type AS t FROM events
    ), m0 AS (
      SELECT t, 1000000::BIGINT AS m FROM nodes
    ), m1 AS (
      SELECT n.t, COALESCE(s.c, 0)::BIGINT AS m
      FROM nodes n LEFT JOIN (
        SELECT g.dst AS t,
               SUM((FLOOR(g.n * p.m / g.ow))::BIGINT)::BIGINT AS c
        FROM g JOIN m0 p ON p.t = g.src GROUP BY 1
      ) s ON s.t = n.t
), m2 AS (
      SELECT n.t, COALESCE(s.c, 0)::BIGINT AS m
      FROM nodes n LEFT JOIN (
        SELECT g.dst AS t,
               SUM((FLOOR(g.n * p.m / g.ow))::BIGINT)::BIGINT AS c
        FROM g JOIN m1 p ON p.t = g.src GROUP BY 1
      ) s ON s.t = n.t
), m3 AS (
      SELECT n.t, COALESCE(s.c, 0)::BIGINT AS m
      FROM nodes n LEFT JOIN (
        SELECT g.dst AS t,
               SUM((FLOOR(g.n * p.m / g.ow))::BIGINT)::BIGINT AS c
        FROM g JOIN m2 p ON p.t = g.src GROUP BY 1
      ) s ON s.t = n.t
), m4 AS (
      SELECT n.t, COALESCE(s.c, 0)::BIGINT AS m
      FROM nodes n LEFT JOIN (
        SELECT g.dst AS t,
               SUM((FLOOR(g.n * p.m / g.ow))::BIGINT)::BIGINT AS c
        FROM g JOIN m3 p ON p.t = g.src GROUP BY 1
      ) s ON s.t = n.t
), m5 AS (
      SELECT n.t, COALESCE(s.c, 0)::BIGINT AS m
      FROM nodes n LEFT JOIN (
        SELECT g.dst AS t,
               SUM((FLOOR(g.n * p.m / g.ow))::BIGINT)::BIGINT AS c
        FROM g JOIN m4 p ON p.t = g.src GROUP BY 1
      ) s ON s.t = n.t
), tot AS (
      SELECT SUM(m)::BIGINT AS tot FROM m5
    )
    SELECT t AS event_type, m AS mass_scaled,
           ROUND(m::DOUBLE / tot, 6) AS share
    FROM m5, tot ORDER BY mass_scaled DESC, event_type
    """,
    tags=("G-7",),
    op=G.markov_stationary, tables=("events",),
)


register(
    "two_proportion_drift",
    """
    WITH keyed AS (
      SELECT event_type, (ts::DATE - DATE '1970-01-01')::BIGINT AS d
      FROM events
    ), b AS (
      SELECT MIN(d) + MAX(d) AS mid2 FROM keyed
    ), halved AS (
      SELECT event_type,
             CASE WHEN d * 2 <= mid2 THEN 1 ELSE 2 END AS half
      FROM keyed, b
    ), counts AS (
      SELECT event_type, half, COUNT(*)::BIGINT AS n
      FROM halved GROUP BY 1, 2
    ), totals AS (
      SELECT half, SUM(n)::BIGINT AS tot FROM counts GROUP BY 1
    ), wide AS (
      SELECT event_type,
             COALESCE(MAX(CASE WHEN half = 1 THEN n END), 0)::BIGINT AS n1,
             COALESCE(MAX(CASE WHEN half = 2 THEN n END), 0)::BIGINT AS n2,
             MAX(CASE WHEN half = 1 THEN tot END)::BIGINT AS t1,
             MAX(CASE WHEN half = 2 THEN tot END)::BIGINT AS t2
      FROM counts JOIN totals USING (half) GROUP BY 1
    )
    SELECT event_type, n1, n2,
           ROUND(n1::DOUBLE / t1, 6) AS p1,
           ROUND(n2::DOUBLE / t2, 6) AS p2,
           ROUND((n1::DOUBLE / t1 - n2::DOUBLE / t2)
                 / sqrt((((n1 + n2)::DOUBLE / (t1 + t2))
                         * (CAST(1.0 AS DOUBLE)
                            - (n1 + n2)::DOUBLE / (t1 + t2)))
                        * (CAST(1.0 AS DOUBLE) / t1::DOUBLE
                           + CAST(1.0 AS DOUBLE) / t2::DOUBLE)), 4) AS z,
           abs((n1::DOUBLE / t1 - n2::DOUBLE / t2)
               / sqrt((((n1 + n2)::DOUBLE / (t1 + t2))
                       * (CAST(1.0 AS DOUBLE)
                          - (n1 + n2)::DOUBLE / (t1 + t2)))
                      * (CAST(1.0 AS DOUBLE) / t1::DOUBLE
                         + CAST(1.0 AS DOUBLE) / t2::DOUBLE)))
             > CAST(1.96 AS DOUBLE) AS significant
    FROM wide ORDER BY event_type
    """,
    tags=("AD-11",),
    op=AD.two_proportion_drift, tables=("events",),
)


register(
    "embedding_drift",
    """
    WITH comps AS (
      SELECT vec_id % 2 AS cohort,
             generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(round(unnest(embedding)::DOUBLE * 1000000.0) AS BIGINT)
               AS qv
      FROM embeddings
    ), agg AS (
      SELECT cohort, dim, SUM(qv)::BIGINT AS s, COUNT(*)::BIGINT AS n
      FROM comps GROUP BY 1, 2
    ), ev AS (
      SELECT dim, s AS s0, n AS n0 FROM agg WHERE cohort = 0
    ), od AS (
      SELECT dim, s AS s1, n AS n1 FROM agg WHERE cohort = 1
    )
    SELECT dim,
           ROUND(s0::DOUBLE / (n0 * 1000000), 8) AS mean_even,
           ROUND(s1::DOUBLE / (n1 * 1000000), 8) AS mean_odd,
           ROUND(s1::DOUBLE / (n1 * 1000000)
                 - s0::DOUBLE / (n0 * 1000000), 8) AS shift
    FROM ev JOIN od USING (dim)
    ORDER BY abs(ROUND(s1::DOUBLE / (n1 * 1000000)
                       - s0::DOUBLE / (n0 * 1000000), 8)) DESC, dim
    LIMIT 10
    """,
    tags=("E-22",),
    op=SIM.embedding_drift, tables=("embeddings",),
)


register(
    "ks_drift",
    """
    WITH keyed AS (
      SELECT event_type,
             (ts::DATE - DATE '1970-01-01')::BIGINT AS d,
             (value::DECIMAL(18,2) * 100)::DECIMAL(38,0)::BIGINT AS cents
      FROM events
    ), b AS (
      SELECT MIN(d) + MAX(d) AS mid2 FROM keyed
    ), halved AS (
      SELECT event_type, cents,
             CASE WHEN d * 2 <= b.mid2 THEN 1 ELSE 2 END AS half
      FROM keyed CROSS JOIN b
    ), cellc AS (
      SELECT event_type, cents,
             SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END)::BIGINT AS c1,
             SUM(CASE WHEN half = 2 THEN 1 ELSE 0 END)::BIGINT AS c2
      FROM halved GROUP BY 1, 2
    ), cum AS (
      SELECT event_type,
             SUM(c1) OVER (PARTITION BY event_type ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
               AS cum1,
             SUM(c2) OVER (PARTITION BY event_type ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
               AS cum2,
             SUM(c1) OVER (PARTITION BY event_type)::BIGINT AS n1,
             SUM(c2) OVER (PARTITION BY event_type)::BIGINT AS n2
      FROM cellc
    ), agg AS (
      SELECT event_type, MAX(n1)::BIGINT AS n1, MAX(n2)::BIGINT AS n2,
             MAX(abs(cum1::DECIMAL(38,0) * n2 - cum2::DECIMAL(38,0) * n1))
               AS dnum
      FROM cum GROUP BY 1
    )
    SELECT event_type, n1, n2,
           CASE WHEN n1 > 0 AND n2 > 0 THEN
             ROUND(dnum::DOUBLE / (n1::DOUBLE * n2::DOUBLE), 6) END AS ks_d,
           CASE WHEN n1 > 0 AND n2 > 0 THEN
             ROUND(CAST(1.358 AS DOUBLE)
                   * sqrt((n1 + n2)::DOUBLE / (n1::DOUBLE * n2::DOUBLE)), 6)
             END AS ks_crit,
           CASE WHEN n1 > 0 AND n2 > 0 THEN
             (dnum::DOUBLE / (n1::DOUBLE * n2::DOUBLE)) >
             (CAST(1.358 AS DOUBLE)
              * sqrt((n1 + n2)::DOUBLE / (n1::DOUBLE * n2::DOUBLE)))
             END AS significant
    FROM agg ORDER BY event_type
    """,
    tags=("AD-12",),
    op=AD.ks_drift, tables=("events",),
)


register(
    "structural_breaks",
    """
    WITH base AS (
      SELECT event_type, (ts::DATE - DATE '1970-01-01')::BIGINT AS d,
             COUNT(*)::BIGINT AS x
      FROM events GROUP BY 1, 2
    ), rng AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM base),
    types AS (SELECT DISTINCT event_type FROM base),
    cal AS (
      SELECT t.event_type, unnest(generate_series(r.lo, r.hi)) AS d
      FROM types t CROSS JOIN rng r
    ), series AS (
      SELECT cal.event_type, cal.d, COALESCE(b.x, 0)::BIGINT AS x
      FROM cal LEFT JOIN base b
        ON b.event_type = cal.event_type AND b.d = cal.d
    ), cum AS (
      SELECT event_type, d,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY d)::BIGINT
               AS s,
             SUM(x) OVER (PARTITION BY event_type ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
               AS cs,
             SUM(x * x) OVER (PARTITION BY event_type ORDER BY d
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
               AS css,
             SUM(x) OVER (PARTITION BY event_type)::BIGINT AS st,
             SUM(x * x) OVER (PARTITION BY event_type)::BIGINT AS qt,
             COUNT(*) OVER (PARTITION BY event_type)::BIGINT AS n
      FROM series
    ), gained AS (
      SELECT *,
        (qt::DOUBLE - st::DOUBLE * st::DOUBLE / n::DOUBLE)
        - (css::DOUBLE - cs::DOUBLE * cs::DOUBLE / s::DOUBLE)
        - ((qt - css)::DOUBLE
           - (st - cs)::DOUBLE * (st - cs)::DOUBLE / (n - s)::DOUBLE)
          AS gain
      FROM cum WHERE s < n
    ), best AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY event_type ORDER BY gain DESC, d) AS rk
      FROM gained
    )
    SELECT event_type,
           strftime(DATE '1970-01-01' + d::INT, '%Y-%m-%d') AS break_date,
           n AS n_days, ROUND(gain, 4) AS gain,
           ROUND(cs::DOUBLE / s::DOUBLE, 4) AS mean_before,
           ROUND((st - cs)::DOUBLE / (n - s)::DOUBLE, 4) AS mean_after
    FROM best WHERE rk = 1 ORDER BY event_type
    """,
    tags=("AD-13",),
    op=AD.structural_breaks, tables=("events",),
)


register(
    "daily_acf",
    """
    WITH base AS (
      SELECT (ts::DATE - DATE '1970-01-01')::BIGINT AS d,
             COUNT(*)::BIGINT AS x
      FROM events GROUP BY 1
    ), rng AS (SELECT MIN(d) AS lo, MAX(d) AS hi FROM base),
    cal AS (SELECT unnest(generate_series(lo, hi)) AS d FROM rng),
    series AS (
      SELECT cal.d, COALESCE(base.x, 0)::BIGINT AS x
      FROM cal LEFT JOIN base USING (d)
    ), lags AS (SELECT unnest(generate_series(1, 7)) AS lag),
    pairs AS (
      SELECT l.lag, a.x AS xa, b.x AS xb
      FROM series a CROSS JOIN lags l
      JOIN series b ON b.d = a.d + l.lag
    ), agg AS (
      SELECT lag, COUNT(*)::BIGINT AS n_pairs,
             SUM(xa)::BIGINT AS sx, SUM(xb)::BIGINT AS sy,
             SUM(xa * xa)::BIGINT AS sxx, SUM(xb * xb)::BIGINT AS syy,
             SUM(xa * xb)::BIGINT AS sxy
      FROM pairs GROUP BY 1
    )
    SELECT lag::BIGINT AS lag, n_pairs,
           CASE WHEN (n_pairs * sxx - sx * sx) > 0
                 AND (n_pairs * syy - sy * sy) > 0 THEN
             ROUND((n_pairs * sxy - sx * sy)::DOUBLE /
                   (sqrt((n_pairs * sxx - sx * sx)::DOUBLE)
                    * sqrt((n_pairs * syy - sy * sy)::DOUBLE)), 6)
           END AS acf
    FROM agg ORDER BY lag
    """,
    tags=("W-17",),
    op=AN.daily_acf, tables=("events",),
)


register(
    "histogram_quantiles",
    """
    WITH vals AS (
      SELECT (value::DECIMAL(18,2) * 100)::DECIMAL(38,0)::BIGINT AS c
      FROM events
    ), rng AS (SELECT MIN(c) AS lo, MAX(c) AS hi FROM vals),
    binned AS (
      SELECT lo, hi, (c - lo) * 256 // (hi - lo + 1) AS bin
      FROM vals CROSS JOIN rng
    ), hist AS (
      SELECT lo, hi, bin, COUNT(*)::BIGINT AS cnt
      FROM binned GROUP BY 1, 2, 3
    ), cum AS (
      SELECT lo, hi, bin, cnt,
             SUM(cnt) OVER (ORDER BY bin
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
               AS cum,
             SUM(cnt) OVER ()::BIGINT AS n
      FROM hist
    ), pcts AS (SELECT unnest([50, 90, 95, 99]) AS p),
    hit AS (
      SELECT lo, hi, p, n, bin, cnt, cum, (n * p + 99) // 100 AS r
      FROM cum CROSS JOIN pcts
      WHERE cum >= (n * p + 99) // 100
    ), fst AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY p ORDER BY bin) AS rk
      FROM hit
    )
    SELECT p::BIGINT AS p, n, bin, cnt AS bin_n,
           ROUND((lo::DOUBLE
                  + (bin::DOUBLE + (r - (cum - cnt))::DOUBLE / cnt::DOUBLE)
                    * (hi - lo + 1)::DOUBLE / CAST(256.0 AS DOUBLE))
                 / CAST(100.0 AS DOUBLE), 4) AS est_value
    FROM fst WHERE rk = 1 ORDER BY p
    """,
    tags=("SK-7",),
    op=SK.histogram_quantiles, tables=("events",),
)


register(
    "centroid_silhouette",
    """
    WITH comps AS (
      SELECT vec_id, label,
             generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(round(unnest(embedding)::DOUBLE * 1000000.0) AS BIGINT)
               + 1000000 AS qv
      FROM embeddings
    ), cent AS (
      SELECT label AS clabel, dim,
             SUM(qv)::BIGINT // COUNT(*)::BIGINT AS c
      FROM comps GROUP BY 1, 2
    ), d2 AS (
      SELECT comps.vec_id, comps.label, cent.clabel,
             SUM((comps.qv - cent.c) * (comps.qv - cent.c))::BIGINT AS d2
      FROM comps JOIN cent USING (dim)
      GROUP BY 1, 2, 3
    ), pp AS (
      SELECT vec_id, label,
             MAX(CASE WHEN clabel = label THEN d2 END)::BIGINT AS d2_own,
             MIN(CASE WHEN clabel != label THEN d2 END)::BIGINT AS d2_other
      FROM d2 GROUP BY 1, 2
    ), scored AS (
      SELECT label,
             CASE WHEN GREATEST(d2_own, d2_other) = 0 THEN 0::BIGINT
                  ELSE CAST(round(
                    (SQRT(d2_other::DOUBLE) - SQRT(d2_own::DOUBLE))
                    / GREATEST(SQRT(d2_own::DOUBLE), SQRT(d2_other::DOUBLE))
                    * 1000000.0) AS BIGINT) END AS smicro
      FROM pp
    )
    SELECT label, COUNT(*)::BIGINT AS n_vecs,
           ROUND(SUM(smicro)::DOUBLE / COUNT(*) / 1000000.0::DOUBLE, 6)
             AS mean_silhouette,
           SUM(CASE WHEN smicro < 0 THEN 1 ELSE 0 END)::BIGINT
             AS n_negative,
           ROUND(SUM(CASE WHEN smicro < 0 THEN 1 ELSE 0 END)::DOUBLE
                 / COUNT(*), 6) AS neg_share
    FROM scored GROUP BY 1 ORDER BY label
    """,
    tags=("E-26",),
    op=SIM.centroid_silhouette, tables=("embeddings",),
)


register(
    "rake_keyphrases",
    r"""
    WITH cleaned AS (
      SELECT regexp_replace(
               regexp_replace(lower(trim(text)), '[^a-z0-9\s]+', ' | ',
                              'g'),
               '\b(a|the)\b', '|', 'g') AS s
      FROM documents
    ), phr0 AS (
      SELECT unnest(string_split(s, '|')) AS rawp FROM cleaned
    ), phrt AS (
      SELECT regexp_replace(trim(rawp), '\s+', ' ', 'g') AS phrase
      FROM phr0
    ), phrf AS (
      SELECT phrase FROM phrt
      WHERE phrase != '' AND len(string_split(phrase, ' ')) <= 4
    ), inst AS (
      SELECT phrase, len(string_split(phrase, ' '))::BIGINT AS plen,
             unnest(string_split(phrase, ' ')) AS w
      FROM phrf
    ), wscore AS (
      SELECT w,
             (SUM(plen)::BIGINT * 1000000) // COUNT(*)::BIGINT
               AS wscore_micro
      FROM inst GROUP BY 1
    ), pfreq AS (
      SELECT phrase, COUNT(*)::BIGINT AS freq FROM phrf GROUP BY 1
    ), pwords AS (
      SELECT phrase, unnest(string_split(phrase, ' ')) AS w
      FROM (SELECT DISTINCT phrase FROM phrf)
    ), pscore AS (
      SELECT phrase, COUNT(*)::BIGINT AS n_words,
             SUM(wscore_micro)::BIGINT AS pscore_micro
      FROM pwords JOIN wscore USING (w) GROUP BY 1
    )
    SELECT phrase, n_words, freq,
           ROUND(pscore_micro::DOUBLE / 1000000.0::DOUBLE, 6)
             AS rake_score
    FROM pscore JOIN pfreq USING (phrase)
    ORDER BY rake_score DESC, phrase LIMIT 15
    """,
    tags=("T-27",),
    op=TX.rake_keyphrases, tables=("documents",),
)


register(
    "readability_profile",
    r"""
    WITH per AS (
      SELECT source,
             (CASE WHEN trim(text) = '' THEN 0
                   ELSE len(string_split_regex(trim(text), '\s+'))
              END)::BIGINT AS w,
             GREATEST(
               length(regexp_replace(lower(text), '[.!?]+', '#', 'g'))
               - length(regexp_replace(lower(text), '[.!?]+', '', 'g')),
               1)::BIGINT AS s,
             (length(regexp_replace(lower(text), '[aeiouy]+', '#', 'g'))
              - length(regexp_replace(lower(text), '[aeiouy]+', '', 'g'))
             )::BIGINT AS y
      FROM documents
    ), agg AS (
      SELECT source, COUNT(*)::BIGINT AS n_docs, SUM(w)::BIGINT AS n_words,
             SUM(s)::BIGINT AS n_sentences,
             SUM(y)::BIGINT AS n_syllable_groups
      FROM per GROUP BY 1
    )
    SELECT source, n_docs, n_words, n_sentences, n_syllable_groups,
           CASE WHEN n_words > 0 THEN
             ROUND(CAST(206.835 AS DOUBLE)
                   - CAST(1.015 AS DOUBLE)
                     * (n_words::DOUBLE / n_sentences::DOUBLE)
                   - CAST(84.6 AS DOUBLE)
                     * (n_syllable_groups::DOUBLE / n_words::DOUBLE), 4)
           END AS flesch,
           CASE WHEN n_words > 0 THEN
             ROUND(CAST(0.39 AS DOUBLE)
                     * (n_words::DOUBLE / n_sentences::DOUBLE)
                   + CAST(11.8 AS DOUBLE)
                     * (n_syllable_groups::DOUBLE / n_words::DOUBLE)
                   - CAST(15.59 AS DOUBLE), 4)
           END AS fk_grade
    FROM agg ORDER BY source
    """,
    tags=("T-28",),
    op=TX.readability_profile, tables=("documents",),
)


register(
    "weighted_sample",
    """
    WITH keyed AS (
      SELECT doc_id, source, n_chars,
             ln((('0x' || substr(md5('wsamp1' || ':' || doc_id::VARCHAR),
                                 1, 13))::BIGINT + 1)::DOUBLE
                / CAST(4503599627370496.0 AS DOUBLE))
             / n_chars::DOUBLE AS es_key
      FROM documents
    ), top AS (
      SELECT *, ROW_NUMBER() OVER (ORDER BY es_key DESC, doc_id)
               AS sample_rank
      FROM keyed
    )
    SELECT sample_rank::BIGINT AS sample_rank, doc_id, source, n_chars,
           ROUND(es_key, 9) AS es_key
    FROM top WHERE sample_rank <= 100 ORDER BY sample_rank
    """,
    tags=("PL-22",),
    op=PL.weighted_sample, tables=("documents",),
)


register(
    "seasonal_decomposition",
    DAILY_SERIES_CTES
    + """, ma AS (
      SELECT d, x, (SUM(x) OVER w7)::BIGINT AS s7,
             (COUNT(*) OVER w7)::BIGINT AS n7
      FROM series
      WINDOW w7 AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ), detr AS (
      SELECT d, ((d + 4) % 7)::BIGINT AS dow,
             ROUND(((x * 7 - s7) * 1000000)::DOUBLE
                   / CAST(7 AS DOUBLE))::BIGINT AS dm
      FROM ma WHERE n7 = 7
    ), seas AS (
      SELECT dow, COUNT(*)::BIGINT AS n_days,
             ROUND(SUM(dm)::DOUBLE / COUNT(*))::BIGINT AS s_micro
      FROM detr GROUP BY 1
    ), resid AS (
      SELECT detr.dow, abs(dm - s_micro)::BIGINT AS ar
      FROM detr JOIN seas USING (dow)
    ), mar AS (
      SELECT dow,
             ROUND(SUM(ar)::DOUBLE / COUNT(*) / 1e6, 4) AS mean_abs_residual
      FROM resid GROUP BY 1
    )
    SELECT s.dow, s.n_days,
           ROUND(s.s_micro::DOUBLE / 1e6, 4) AS seasonal,
           m.mean_abs_residual
    FROM seas s JOIN mar m USING (dow) ORDER BY dow
    """,
    tags=("W-18",),
    op=AN.seasonal_decomposition, tables=("events",),
)


register(
    "spearman_value_time",
    """
    WITH rows_ AS (
      SELECT event_type,
             (ts::DATE - DATE '1970-01-01')::BIGINT AS d,
             (value::DECIMAL(18,2) * 100)::DECIMAL(38,0)::BIGINT AS c
      FROM events
    ), rx AS (
      SELECT event_type, d,
             ((SUM(cnt) OVER (PARTITION BY event_type ORDER BY d
                ROWS UNBOUNDED PRECEDING)) - cnt) * 2 + cnt + 1 AS r2x
      FROM (SELECT event_type, d, COUNT(*)::BIGINT AS cnt
            FROM rows_ GROUP BY 1, 2)
    ), ry AS (
      SELECT event_type, c,
             ((SUM(cnt) OVER (PARTITION BY event_type ORDER BY c
                ROWS UNBOUNDED PRECEDING)) - cnt) * 2 + cnt + 1 AS r2y
      FROM (SELECT event_type, c, COUNT(*)::BIGINT AS cnt
            FROM rows_ GROUP BY 1, 2)
    ), j AS (
      SELECT r.event_type, rx.r2x::DECIMAL(19,0) AS x,
             ry.r2y::DECIMAL(19,0) AS y
      FROM rows_ r
      JOIN rx ON r.event_type = rx.event_type AND r.d = rx.d
      JOIN ry ON r.event_type = ry.event_type AND r.c = ry.c
    ), m AS (
      SELECT event_type, COUNT(*)::BIGINT AS n_events,
             SUM(x)::DECIMAL(38,0) AS sx, SUM(y)::DECIMAL(38,0) AS sy,
             SUM(x * y)::DECIMAL(38,0) AS sxy,
             SUM(x * x)::DECIMAL(38,0) AS sxx,
             SUM(y * y)::DECIMAL(38,0) AS syy
      FROM j GROUP BY 1
    )
    SELECT event_type, n_events,
           CASE WHEN (n_events::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                     > 0
                 AND (n_events::DOUBLE * syy::DOUBLE - sy::DOUBLE * sy::DOUBLE)
                     > 0
           THEN ROUND(
             (n_events::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
             / (sqrt(n_events::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                * sqrt(n_events::DOUBLE * syy::DOUBLE
                       - sy::DOUBLE * sy::DOUBLE)), 4)
           END AS spearman_rho
    FROM m ORDER BY event_type
    """,
    tags=("AGG-19",),
    op=AN.spearman_value_time, tables=("events",),
)


register(
    "session_concurrency",
    """
    WITH secs AS (
      SELECT user_id, event_id, floor(epoch(ts))::BIGINT AS s FROM events
    ), flagged AS (
      SELECT user_id, event_id, s,
             CASE WHEN s - lag(s) OVER (PARTITION BY user_id
                    ORDER BY s, event_id) <= 1800
                  THEN 0 ELSE 1 END AS nb
      FROM secs
    ), sess0 AS (
      SELECT user_id, s,
             SUM(nb) OVER (PARTITION BY user_id ORDER BY s, event_id
               ROWS UNBOUNDED PRECEDING) AS session_no
      FROM flagged
    ), sess AS (
      SELECT MIN(s)::BIGINT AS a, (MAX(s) + 1)::BIGINT AS b
      FROM sess0 GROUP BY user_id, session_no
    ), sday AS (
      SELECT a, b, unnest(range(a // 86400, (b - 1) // 86400 + 1)) AS day
      FROM sess
    ), clipped AS (
      SELECT day, greatest(a, day * 86400) AS ca,
             least(b, (day + 1) * 86400) AS cb
      FROM sday
    ), deltas AS (
      SELECT day, sec, SUM(z)::BIGINT AS dz FROM (
        SELECT day, ca AS sec, 1 AS z FROM clipped
        UNION ALL
        SELECT day, cb AS sec, -1 AS z FROM clipped
        WHERE cb < (day + 1) * 86400
      ) GROUP BY 1, 2
    ), run AS (
      SELECT day, sec,
             SUM(dz) OVER (PARTITION BY day ORDER BY sec
               ROWS UNBOUNDED PRECEDING) AS conc
      FROM deltas
    ), best AS (
      SELECT day, sec, conc,
             ROW_NUMBER() OVER (PARTITION BY day
               ORDER BY conc DESC, sec) AS rk
      FROM run
    )
    SELECT strftime(DATE '1970-01-01' + day::INT, '%Y-%m-%d') AS day,
           conc::BIGINT AS peak_concurrency,
           (sec - day * 86400)::BIGINT AS at_sec_of_day
    FROM best WHERE rk = 1 ORDER BY day
    """,
    tags=("W-19",),
    op=AN.session_concurrency, tables=("events",),
)


register(
    "heaps_law",
    TOKS_CTE
    + """
    , per_doc AS (
      SELECT doc_id, len(tokens)::BIGINT AS m FROM toks
    ), firsts AS (
      SELECT fd, COUNT(*)::BIGINT AS v FROM (
        SELECT token, MIN(doc_id)::BIGINT AS fd FROM (
          SELECT doc_id, unnest(tokens) AS token FROM toks
        ) GROUP BY token
      ) GROUP BY 1
    ), rngt AS (
      SELECT MIN(doc_id)::BIGINT AS lo, MAX(doc_id)::BIGINT AS hi
      FROM per_doc
    ), cks AS (
      SELECT ck::BIGINT AS ck, lo - 1 + ((hi - lo + 1) * ck) // 10 AS ck_doc
      FROM (SELECT unnest(range(1, 11)) AS ck), rngt
    ), n_cum AS (
      SELECT ck, ck_doc, SUM(m)::BIGINT AS n_tokens_cum
      FROM per_doc, cks WHERE doc_id <= ck_doc GROUP BY 1, 2
    ), v_cum AS (
      SELECT ck, SUM(v)::BIGINT AS vocab_cum
      FROM firsts, cks WHERE fd <= ck_doc GROUP BY 1
    ), pts AS (
      SELECT ck, ck_doc, n_tokens_cum, vocab_cum,
             ROUND(ln(n_tokens_cum::DOUBLE) * 1e6)::BIGINT AS x,
             ROUND(ln(vocab_cum::DOUBLE) * 1e6)::BIGINT AS y
      FROM n_cum JOIN v_cum USING (ck)
      WHERE n_tokens_cum > 0 AND vocab_cum > 0
    ), m AS (
      SELECT COUNT(*)::BIGINT AS n_pts, SUM(x)::BIGINT AS sx,
             SUM(y)::BIGINT AS sy, SUM(x * y)::BIGINT AS sxy,
             SUM(x * x)::BIGINT AS sxx
      FROM pts
    ), fit AS (
      SELECT CASE WHEN (n_pts::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                       > 0
             THEN ROUND(
               (n_pts::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
               / (n_pts::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE), 4)
             END AS heaps_beta,
             CASE WHEN (n_pts::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE)
                       > 0
             THEN ROUND(
               (sy::DOUBLE
                - ((n_pts::DOUBLE * sxy::DOUBLE - sx::DOUBLE * sy::DOUBLE)
                   / (n_pts::DOUBLE * sxx::DOUBLE - sx::DOUBLE * sx::DOUBLE))
                  * sx::DOUBLE)
               / n_pts::DOUBLE / 1e6, 4)
             END AS heaps_ln_k
      FROM m
    )
    SELECT pts.ck AS checkpoint, pts.ck_doc, pts.n_tokens_cum,
           pts.vocab_cum, fit.heaps_beta, fit.heaps_ln_k
    FROM pts, fit ORDER BY checkpoint
    """,
    tags=("T-29",),
    op=TX.heaps_law, tables=("documents",),
)


register(
    "slo_burn_alerts",
    """
    WITH base AS (
      SELECT (ts::DATE - DATE '1970-01-01')::BIGINT AS d,
             COUNT(*)::BIGINT AS n,
             SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT
               AS ne
      FROM events GROUP BY 1
    ), rngt AS (
      SELECT MIN(d) AS lo, MAX(d) AS hi FROM base
    ), cal AS (
      SELECT unnest(range(lo, hi + 1)) AS d FROM rngt
    ), series AS (
      SELECT c.d, COALESCE(b.n, 0)::BIGINT AS n,
             COALESCE(b.ne, 0)::BIGINT AS ne
      FROM cal c LEFT JOIN base b USING (d)
    ), roll AS (
      SELECT d, n, ne, (SUM(n) OVER w7)::BIGINT AS n7,
             (SUM(ne) OVER w7)::BIGINT AS ne7
      FROM series
      WINDOW w7 AS (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    )
    SELECT strftime(DATE '1970-01-01' + d::INT, '%Y-%m-%d') AS day, n, ne,
           CASE WHEN n > 0 THEN
             ROUND(ne::DOUBLE / n::DOUBLE / CAST(0.25 AS DOUBLE), 4)
           END AS burn_1d,
           CASE WHEN n7 > 0 THEN
             ROUND(ne7::DOUBLE / n7::DOUBLE / CAST(0.25 AS DOUBLE), 4)
           END AS burn_7d,
           CASE WHEN n > 0 THEN
             (ne::DOUBLE / n::DOUBLE / CAST(0.25 AS DOUBLE))
               >= CAST(2.0 AS DOUBLE)
           ELSE FALSE END AS page_fast,
           CASE WHEN n7 > 0 THEN
             (ne7::DOUBLE / n7::DOUBLE / CAST(0.25 AS DOUBLE))
               >= CAST(1.0 AS DOUBLE)
           ELSE FALSE END AS page_slow
    FROM roll ORDER BY day
    """,
    tags=("OPS-3",),
    op=AD.slo_burn_alerts, tables=("events",),
)


@register(
    "streaming_line_length_quantiles",
    SSH_PARSE_CTE
    + """
    , bins AS (
      SELECT (least(length(message), 1023) // 4)::BIGINT AS bin
      FROM parsed WHERE message IS NOT NULL
    ), hist AS (
      SELECT bin, COUNT(*)::BIGINT AS cnt FROM bins GROUP BY 1
    ), cum AS (
      SELECT bin, cnt,
             (SUM(cnt) OVER (ORDER BY bin
                ROWS UNBOUNDED PRECEDING))::BIGINT AS cum,
             (SUM(cnt) OVER ())::BIGINT AS n
      FROM hist
    ), pcts AS (
      SELECT unnest([50, 90, 95, 99]) AS p
    ), hit AS (
      SELECT p, n, bin, cnt, cum, (n * p + 99) // 100 AS r
      FROM cum, pcts WHERE cum >= (n * p + 99) // 100
    ), est AS (
      SELECT p, n, bin, cnt, cum, r,
             ROW_NUMBER() OVER (PARTITION BY p ORDER BY bin) AS rk
      FROM hit
    )
    SELECT p::BIGINT AS p, n, bin, cnt AS bin_n,
           ROUND((bin * 4)::DOUBLE
                 + ((r - (cum - cnt))::DOUBLE / cnt::DOUBLE)
                   * CAST(4 AS DOUBLE), 4) AS est_len
    FROM est WHERE rk = 1 ORDER BY p
    """,
    tags=("ST-17",),
)
def q_streaming_line_length_quantiles(spark, sf_dir):
    """ST-17 streaming message-length quantiles: the engine drains the
    SSH file stream while foreachBatch
    SUM-merges fixed-bin (width 4, domain [0, 1024)) length histograms
    into a <=256-row parquet state (``streaming_length_histogram_state``
    — SK-7's mergeable histogram with the data-independent bin domain
    streaming forces), then reads p50/90/95/99 off the drained state
    with SK-7's integer-rank extraction. Counter merge is SUM, so the
    drained state is bit-identical under any micro-batch split — the
    fifth streaming query with a full hash-match oracle. The source
    here is one file, so it drains in one micro-batch; multi-batch
    drains are covered by
    ``test_streaming_length_histogram_split_invariant``."""
    from pyspark.sql import functions as F

    from bigdata_logs_spark.streaming.ingest import streaming_length_histogram_state

    hist = _drained_state(
        spark, sf_dir, streaming_length_histogram_state, "bls_lenq_state"
    )
    est = SK.histogram_rank_bins(hist).select(
        F.col("p").cast("long").alias("p"),
        "n",
        "bin",
        F.col("cnt").alias("bin_n"),
        F.round(
            (F.col("bin") * 4).cast("double")
            + (
                (F.col("r") - (F.col("cum") - F.col("cnt"))).cast("double")
                / F.col("cnt").cast("double")
            )
            * F.lit(4.0),
            4,
        ).alias("est_len"),
    )
    return est.orderBy("p")


register(
    "seasonal_adjusted_anomalies",
    DAILY_SERIES_CTES
    + """, ma AS (
      SELECT d, x, (SUM(x) OVER w7)::BIGINT AS s7,
             (COUNT(*) OVER w7)::BIGINT AS n7
      FROM series
      WINDOW w7 AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ), detr AS (
      SELECT d, x, ((d + 4) % 7)::BIGINT AS dow,
             ROUND(((x * 7 - s7) * 1000000)::DOUBLE
                   / CAST(7 AS DOUBLE))::BIGINT AS dm
      FROM ma WHERE n7 = 7
    ), seas AS (
      SELECT dow,
             ROUND(SUM(dm)::DOUBLE / COUNT(*))::BIGINT AS s_micro
      FROM detr GROUP BY 1
    ), resid AS (
      SELECT d, x, (dm - s_micro)::DECIMAL(19,0) AS r
      FROM detr JOIN seas USING (dow)
    ), m AS (
      SELECT COUNT(*)::BIGINT AS n, SUM(r)::DECIMAL(38,0) AS sr,
             SUM(r * r)::DECIMAL(38,0) AS srr
      FROM resid
    )
    SELECT strftime(DATE '1970-01-01' + d::INT, '%Y-%m-%d') AS day,
           x AS n_events,
           ROUND(r::DOUBLE / 1e6, 4) AS residual,
           ROUND((n::DOUBLE * r::DOUBLE - sr::DOUBLE)
                 / sqrt(n::DOUBLE * srr::DOUBLE - sr::DOUBLE * sr::DOUBLE),
                 4) AS zscore
    FROM resid, m
    WHERE (n::DOUBLE * srr::DOUBLE - sr::DOUBLE * sr::DOUBLE) > 0
      AND abs((n::DOUBLE * r::DOUBLE - sr::DOUBLE)
              / sqrt(n::DOUBLE * srr::DOUBLE - sr::DOUBLE * sr::DOUBLE))
          > CAST(1.5 AS DOUBLE)
    ORDER BY day
    """,
    tags=("AD-14",),
    op=AD.seasonal_adjusted_anomalies, tables=("events",),
)


register(
    "kendall_tau_daily",
    """
    WITH base AS (
      SELECT event_type, (ts::DATE - DATE '1970-01-01')::BIGINT AS d,
             COUNT(*)::BIGINT AS x
      FROM events GROUP BY 1, 2
    ), rngt AS (
      SELECT MIN(d) AS lo, MAX(d) AS hi FROM base
    ), cal AS (
      SELECT event_type, unnest(range(lo, hi + 1)) AS d
      FROM (SELECT DISTINCT event_type FROM base), rngt
    ), series AS (
      SELECT c.event_type, c.d, COALESCE(b.x, 0)::BIGINT AS x
      FROM cal c LEFT JOIN base b
        ON c.event_type = b.event_type AND c.d = b.d
    ), cd AS (
      SELECT a.event_type,
             SUM(CASE WHEN b.x > a.x THEN 1 ELSE 0 END)::BIGINT AS c,
             SUM(CASE WHEN b.x < a.x THEN 1 ELSE 0 END)::BIGINT AS dis
      FROM series a JOIN series b
        ON a.event_type = b.event_type AND a.d < b.d
      GROUP BY 1
    ), nd AS (
      SELECT event_type, COUNT(*)::BIGINT AS n_days
      FROM series GROUP BY 1
    ), ty AS (
      SELECT event_type, (SUM(t * (t - 1)) / 2)::BIGINT AS ty FROM (
        SELECT event_type, x, COUNT(*)::BIGINT AS t
        FROM series GROUP BY 1, 2
      ) GROUP BY 1
    )
    SELECT cd.event_type, nd.n_days, (cd.c - cd.dis)::BIGINT AS s,
           CASE WHEN ((nd.n_days * (nd.n_days - 1) / 2)::BIGINT::DOUBLE
                      * ((nd.n_days * (nd.n_days - 1) / 2)::BIGINT
                         - ty.ty)::DOUBLE) > 0
           THEN ROUND((cd.c - cd.dis)::DOUBLE
                 / sqrt((nd.n_days * (nd.n_days - 1) / 2)::BIGINT::DOUBLE
                        * ((nd.n_days * (nd.n_days - 1) / 2)::BIGINT
                           - ty.ty)::DOUBLE), 4)
           END AS kendall_tau_b
    FROM cd JOIN nd USING (event_type) JOIN ty USING (event_type)
    ORDER BY event_type
    """,
    tags=("AGG-20",),
    op=AN.kendall_tau_daily, tables=("events",),
)


register(
    "degree_assortativity",
    TOKEN_DIR_CTES
    + """, edges AS (
      SELECT src, dst FROM dir GROUP BY 1, 2
    ), deg AS (
      SELECT src, COUNT(*)::BIGINT AS deg FROM edges GROUP BY 1
    ), ep AS (
      SELECT di.deg::DECIMAL(19,0) AS j, dj.deg::DECIMAL(19,0) AS k
      FROM edges e
      JOIN deg di ON e.src = di.src
      JOIN deg dj ON e.dst = dj.src
    ), m AS (
      SELECT COUNT(*)::BIGINT AS n_edges_directed,
             SUM(j)::DECIMAL(38,0) AS sj, SUM(k)::DECIMAL(38,0) AS sk,
             SUM(j * k)::DECIMAL(38,0) AS sjk,
             SUM(j * j)::DECIMAL(38,0) AS sjj,
             SUM(k * k)::DECIMAL(38,0) AS skk
      FROM ep
    )
    SELECT n_edges_directed,
           CASE WHEN (n_edges_directed::DOUBLE * sjj::DOUBLE
                      - sj::DOUBLE * sj::DOUBLE) > 0
                 AND (n_edges_directed::DOUBLE * skk::DOUBLE
                      - sk::DOUBLE * sk::DOUBLE) > 0
           THEN ROUND(
             (n_edges_directed::DOUBLE * sjk::DOUBLE - sj::DOUBLE * sk::DOUBLE)
             / (sqrt(n_edges_directed::DOUBLE * sjj::DOUBLE
                     - sj::DOUBLE * sj::DOUBLE)
                * sqrt(n_edges_directed::DOUBLE * skk::DOUBLE
                       - sk::DOUBLE * sk::DOUBLE)), 6)
           END AS assortativity
    FROM m
    """,
    tags=("G-8",),
    op=G.degree_assortativity, tables=("documents",),
)


register(
    "hopkins_statistic",
    f"""
    WITH comps AS (
      SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(round(unnest(embedding)::DOUBLE * 1000000.0) AS BIGINT)
               + 1000000 AS qv
      FROM embeddings
    ), box AS (
      SELECT dim, MIN(qv)::BIGINT AS lo, MAX(qv)::BIGINT AS hi
      FROM comps GROUP BY 1
    ), probes AS (
      SELECT vec_id FROM (
        SELECT vec_id,
               ('0x' || substr(md5(vec_id::VARCHAR), 1, 13))::BIGINT AS h
        FROM embeddings
      ) ORDER BY h, vec_id LIMIT {SIM.HOPKINS_M}
    ), real_pts AS (
      SELECT p.vec_id AS pid, c.dim, c.qv AS pv
      FROM probes p JOIN comps c ON p.vec_id = c.vec_id
    ), wd AS (
      SELECT ROUND(SQRT(MIN(d2)::DOUBLE))::BIGINT AS nn_micro FROM (
        SELECT r.pid, c.vec_id,
               SUM((c.qv - r.pv) * (c.qv - r.pv))::BIGINT AS d2
        FROM comps c JOIN real_pts r ON c.dim = r.dim
        WHERE c.vec_id != r.pid
        GROUP BY 1, 2
      ) GROUP BY pid
    ), synth AS (
      SELECT sid, dim,
             lo + ((hi - lo)
                   * (('0x' || substr(md5('{SIM.HOPKINS_SEED}:'
                        || sid::VARCHAR || ':' || dim::VARCHAR), 1, 13))
                      ::BIGINT % {2**20})) // {2**20} AS pv
      FROM (SELECT unnest(range(0, {SIM.HOPKINS_M})) AS sid), box
    ), ud AS (
      SELECT ROUND(SQRT(MIN(d2)::DOUBLE))::BIGINT AS nn_micro FROM (
        SELECT s.sid, c.vec_id,
               SUM((c.qv - s.pv) * (c.qv - s.pv))::BIGINT AS d2
        FROM comps c JOIN synth s ON c.dim = s.dim
        GROUP BY 1, 2
      ) GROUP BY sid
    ), ws AS (
      SELECT COUNT(*)::BIGINT AS m_real, SUM(nn_micro)::BIGINT AS sw FROM wd
    ), us AS (
      SELECT COUNT(*)::BIGINT AS m_synth, SUM(nn_micro)::BIGINT AS su FROM ud
    )
    SELECT ws.m_real, us.m_synth,
           ROUND(ws.sw::DOUBLE / 1e6, 4) AS sum_w,
           ROUND(us.su::DOUBLE / 1e6, 4) AS sum_u,
           ROUND(us.su::DOUBLE / (us.su + ws.sw)::DOUBLE, 6) AS hopkins
    FROM ws, us
    """,
    tags=("E-27",),
    op=SIM.hopkins_statistic, tables=("embeddings",),
)


@register(
    "streaming_bloom_filter",
    SSH_PARSE_CTE
    + f"""
    , keys AS (
      SELECT DISTINCT ip,
             ('0x' || substr(md5(ip), 1, 13))::BIGINT AS h
      FROM parsed WHERE ip IS NOT NULL
    ), bits AS (
      SELECT DISTINCT bit FROM (
        SELECT unnest([
          (h * {SK.BLOOM_A[0]} + {SK.BLOOM_B[0]}) % {SK.CMS_P} % {SK.BLOOM_M},
          (h * {SK.BLOOM_A[1]} + {SK.BLOOM_B[1]}) % {SK.CMS_P} % {SK.BLOOM_M},
          (h * {SK.BLOOM_A[2]} + {SK.BLOOM_B[2]}) % {SK.CMS_P} % {SK.BLOOM_M},
          (h * {SK.BLOOM_A[3]} + {SK.BLOOM_B[3]}) % {SK.CMS_P} % {SK.BLOOM_M}
        ]) AS bit FROM keys
      )
    ), agg AS (
      SELECT COUNT(*)::BIGINT AS n_set_bits FROM bits
    ), ex AS (
      SELECT COUNT(*)::BIGINT AS n_exact FROM keys
    )
    SELECT agg.n_set_bits, ex.n_exact,
           ROUND(agg.n_set_bits::DOUBLE / {float(SK.BLOOM_M)}::DOUBLE, 6)
             AS occupancy,
           CASE WHEN agg.n_set_bits < {SK.BLOOM_M} THEN
             ROUND(-({SK.BLOOM_M}::DOUBLE / CAST(4 AS DOUBLE))
                   * ln(CAST(1 AS DOUBLE)
                        - agg.n_set_bits::DOUBLE / {float(SK.BLOOM_M)}::DOUBLE),
                   4)
           END AS bloom_estimate,
           CASE WHEN agg.n_set_bits < {SK.BLOOM_M} THEN
             ROUND((-({SK.BLOOM_M}::DOUBLE / CAST(4 AS DOUBLE))
                    * ln(CAST(1 AS DOUBLE)
                         - agg.n_set_bits::DOUBLE / {float(SK.BLOOM_M)}::DOUBLE)
                    - ex.n_exact) / ex.n_exact, 4)
           END AS rel_error
    FROM agg, ex
    """,
    tags=("ST-18",),
)
def q_streaming_bloom_filter(spark, sf_dir):
    """ST-18 streaming Bloom filter: the engine drains the SSH file
    stream while foreachBatch
    union-DISTINCT-merges each batch's set-bit positions into a
    <=1024-row parquet state (``streaming_bloom_state``). Bit-set
    union is associative, commutative AND idempotent — ST-16's
    invariance class: the drained bit set is identical under any batch
    split and under replayed input, which is why Bloom state is safe
    under at-least-once delivery. The report reads the swamee-style
    fill-rate cardinality estimate -(m/k)*ln(1 - X/m) (Papapetrou et
    al.'s standard inversion; ln is cross-engine bit-identical) off
    the drained bits beside the exact distinct-IP count — the sixth
    streaming query with a full hash-match oracle. The source here is
    one file, so it drains in one micro-batch; multi-batch drains are
    covered by ``test_streaming_bloom_split_and_replay_invariant``."""
    from pyspark.sql import functions as F

    from bigdata_logs_spark.operators.sketches import BLOOM_M
    from bigdata_logs_spark.streaming.ingest import streaming_bloom_state

    bits = _drained_state(spark, sf_dir, streaming_bloom_state, "bls_bloom_state")
    agg = bits.agg(F.count(F.lit(1)).alias("n_set_bits"))
    exact = _ssh_ips(spark, sf_dir).agg(F.countDistinct("ip").alias("n_exact"))
    x = F.col("n_set_bits").cast("double")
    est = -(F.lit(float(BLOOM_M)) / F.lit(4.0)) * F.log(
        F.lit(1.0) - x / F.lit(float(BLOOM_M))
    )
    return agg.crossJoin(F.broadcast(exact)).select(
        "n_set_bits",
        "n_exact",
        F.round(x / F.lit(float(BLOOM_M)), 6).alias("occupancy"),
        F.when(F.col("n_set_bits") < BLOOM_M, F.round(est, 4)).alias(
            "bloom_estimate"
        ),
        F.when(
            F.col("n_set_bits") < BLOOM_M,
            F.round(
                (est - F.col("n_exact")) / F.col("n_exact"), 4
            ),
        ).alias("rel_error"),
    )


register(
    "tokenizer_fertility",
    r"""
    WITH per_doc AS (
      SELECT lang,
             len(regexp_extract_all(trim(text), '[^\s]+'))::BIGINT AS w,
             len(regexp_extract_all(lower(text),
                 '[a-z]+|[0-9]+|[^a-z0-9\s]'))::BIGINT AS s,
             length(regexp_replace(lower(text), '\s+', '', 'g'))::BIGINT
               AS ch
      FROM documents
    ), agg AS (
      SELECT lang, COUNT(*)::BIGINT AS n_docs, SUM(w)::BIGINT AS n_words,
             SUM(s)::BIGINT AS n_subtokens,
             SUM(ch)::BIGINT AS n_chars_nospace
      FROM per_doc GROUP BY 1
    )
    SELECT lang, n_docs, n_words, n_subtokens,
           CASE WHEN n_words > 0 THEN
             ROUND(n_subtokens::DOUBLE / n_words::DOUBLE, 4)
           END AS fertility,
           CASE WHEN n_subtokens > 0 THEN
             ROUND(n_chars_nospace::DOUBLE / n_subtokens::DOUBLE, 4)
           END AS chars_per_subtoken
    FROM agg ORDER BY lang
    """,
    tags=("T-30",),
    op=TX.tokenizer_fertility, tables=("documents",),
)


register(
    "capacity_forecast",
    DAILY_SERIES_CTES
    + """, m AS (
      SELECT COUNT(*)::BIGINT AS n, MAX(d)::BIGINT AS hi,
             MAX(x)::BIGINT AS peak, SUM(d)::BIGINT AS sd,
             SUM(x)::BIGINT AS sx, SUM(d * x)::BIGINT AS sdx,
             SUM(d * d)::BIGINT AS sdd
      FROM series
    ), f AS (
      SELECT n, hi, peak, sd, sx, sdx, sdd,
             (n::DOUBLE * sdd::DOUBLE - sd::DOUBLE * sd::DOUBLE) AS den,
             (n::DOUBLE * sdx::DOUBLE - sd::DOUBLE * sx::DOUBLE)
               / (n::DOUBLE * sdd::DOUBLE - sd::DOUBLE * sd::DOUBLE)
               AS slope
      FROM m
    ), g AS (
      SELECT n, hi, peak, den, slope,
             (sx::DOUBLE - slope * sd::DOUBLE) / n::DOUBLE AS intercept
      FROM f
    )
    SELECT n AS n_days, peak AS peak_daily,
           CASE WHEN den > 0 THEN ROUND(slope, 4) END AS slope_per_day,
           CASE WHEN den > 0 THEN
             ROUND(intercept + slope * hi::DOUBLE, 4)
           END AS level_now,
           CASE WHEN den > 0 THEN
             ROUND(intercept + slope * (hi + 7)::DOUBLE, 4)
           END AS forecast_7d,
           ROUND(peak::DOUBLE * CAST(1.5 AS DOUBLE), 4) AS capacity_line,
           CASE WHEN den > 0 AND slope > 0 THEN
             ROUND((peak::DOUBLE * CAST(1.5 AS DOUBLE)
                    - (intercept + slope * hi::DOUBLE)) / slope, 2)
           END AS days_to_capacity
    FROM g
    """,
    tags=("OPS-4",),
    op=AN.capacity_forecast, tables=("events",),
)


register(
    "rank_movers",
    """
    WITH base AS (
      SELECT (ts::DATE - DATE '1970-01-01')::BIGINT // 7 AS w,
             event_type, COUNT(*)::BIGINT AS n_events
      FROM events GROUP BY 1, 2
    ), ranked AS (
      SELECT w, event_type, n_events,
             ROW_NUMBER() OVER (PARTITION BY w
               ORDER BY n_events DESC, event_type) AS rnk
      FROM base
    )
    SELECT strftime(DATE '1970-01-01' + (w * 7)::INT, '%Y-%m-%d')
             AS week_start,
           event_type, n_events, rnk::BIGINT AS rank,
           (lag(rnk) OVER (PARTITION BY event_type ORDER BY w))::BIGINT
             AS prev_rank,
           ((lag(rnk) OVER (PARTITION BY event_type ORDER BY w))
            - rnk)::BIGINT AS rank_delta
    FROM ranked ORDER BY week_start, rank
    """,
    tags=("D-55",),
    op=AN.rank_movers, tables=("events",),
)


register(
    "char_class_profile_arrow",
    r"""
    SELECT doc_id, length(text)::BIGINT AS n_chars,
           length(regexp_replace(text, '[^A-Za-z]', '', 'g'))::BIGINT
             AS n_alpha,
           length(regexp_replace(text, '[^0-9]', '', 'g'))::BIGINT
             AS n_digit,
           (length(text)
            - length(regexp_replace(text, '\s', '', 'g')))::BIGINT
             AS n_space,
           (length(text)
            - length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
            - length(regexp_replace(text, '[^0-9]', '', 'g'))
            - (length(text)
               - length(regexp_replace(text, '\s', '', 'g'))))::BIGINT
             AS n_other
    FROM documents ORDER BY doc_id
    """,
    tags=("U-7",),
    op=TX.char_class_profile_arrow, tables=("documents",),
)


register(
    "weekday_effect_anova",
    DAILY_CAL_CTES
    + """, series AS (
      SELECT ((c.d + 4) % 7)::BIGINT AS dow, COALESCE(b.x, 0)::BIGINT AS x
      FROM cal c LEFT JOIN base b USING (d)
    ), grp AS (
      SELECT dow, COUNT(*)::BIGINT AS ng, SUM(x)::BIGINT AS sg,
             SUM(x * x)::BIGINT AS qg
      FROM series GROUP BY 1
    ), m AS (
      SELECT COUNT(*)::BIGINT AS k, SUM(ng)::BIGINT AS n,
             SUM(sg)::BIGINT AS s, SUM(qg)::BIGINT AS q,
             SUM(ROUND(sg::DOUBLE * sg::DOUBLE / ng::DOUBLE * 1e6)
                 ::BIGINT)::BIGINT AS sbq
      FROM grp
    )
    SELECT n AS n_days, k AS k_groups,
           CASE WHEN k > 1
                 AND (q::DOUBLE - sbq::DOUBLE / 1e6) > 0 THEN
             ROUND(((sbq::DOUBLE / 1e6 - s::DOUBLE * s::DOUBLE / n::DOUBLE)
                    / (k - 1)::DOUBLE)
                   / ((q::DOUBLE - sbq::DOUBLE / 1e6) / (n - k)::DOUBLE), 4)
           END AS f_stat,
           CASE WHEN (q::DOUBLE - s::DOUBLE * s::DOUBLE / n::DOUBLE) > 0 THEN
             ROUND((sbq::DOUBLE / 1e6 - s::DOUBLE * s::DOUBLE / n::DOUBLE)
                   / (q::DOUBLE - s::DOUBLE * s::DOUBLE / n::DOUBLE), 4)
           END AS eta_sq
    FROM m
    """,
    tags=("AD-15",),
    op=AD.weekday_effect_anova, tables=("events",),
)


register(
    "survival_churn_curve",
    """
    WITH spans AS (
      SELECT user_id,
             MIN((ts::DATE - DATE '1970-01-01')::BIGINT) AS f,
             MAX((ts::DATE - DATE '1970-01-01')::BIGINT) AS l
      FROM events WHERE user_id IS NOT NULL GROUP BY 1
    ), hz AS (
      SELECT MAX(l) AS hz FROM spans
    ), marked AS (
      SELECT (l - f)::BIGINT AS t,
             CASE WHEN l > hz.hz - 7 THEN 1 ELSE 0 END AS censored
      FROM spans, hz
    ), per_t AS (
      SELECT t, SUM(1 - censored)::BIGINT AS d_t,
             SUM(censored)::BIGINT AS c_t
      FROM marked GROUP BY 1
    ), risk AS (
      SELECT t, d_t, c_t,
             (SUM(d_t + c_t) OVER (ORDER BY t DESC
                ROWS UNBOUNDED PRECEDING))::BIGINT AS n_t
      FROM per_t
    ), terms AS (
      SELECT t, d_t, c_t, n_t,
             ROUND(d_t::DOUBLE / n_t::DOUBLE * 1e6)::BIGINT AS hq,
             CASE WHEN d_t < n_t THEN
               ROUND(ln((n_t - d_t)::DOUBLE / n_t::DOUBLE) * 1e6)::BIGINT
             END AS kq
      FROM risk
    )
    SELECT t AS t_days, n_t AS n_at_risk, d_t AS n_churned,
           c_t AS n_censored,
           ROUND(hq::DOUBLE / 1e6, 6) AS hazard,
           ROUND((SUM(hq) OVER w)::DOUBLE / 1e6, 6) AS cum_hazard,
           ROUND((SUM(kq) OVER w)::DOUBLE / 1e6, 6) AS km_ln_survival
    FROM terms
    WINDOW w AS (ORDER BY t ROWS UNBOUNDED PRECEDING)
    ORDER BY t_days
    """,
    tags=("AGG-21",),
    op=AN.survival_churn_curve, tables=("events",),
)


register(
    "burrows_delta",
    TOKS_CTE
    + """
    , tok AS (
      SELECT source, unnest(tokens) AS token FROM toks
    ), cell AS (
      SELECT source, token, COUNT(*)::BIGINT AS cnt FROM tok GROUP BY 1, 2
    ), totals AS (
      SELECT source, SUM(cnt)::BIGINT AS total FROM cell GROUP BY 1
    ), markers AS (
      SELECT token FROM (
        SELECT token, SUM(cnt)::BIGINT AS corpus_cnt
        FROM cell GROUP BY 1
      ) ORDER BY corpus_cnt DESC, token LIMIT 30
    ), fq AS (
      SELECT t.source, m.token,
             ROUND(COALESCE(c.cnt, 0)::DOUBLE * 1e6
                   / t.total::DOUBLE)::BIGINT AS fq
      FROM totals t CROSS JOIN markers m
      LEFT JOIN cell c ON c.source = t.source AND c.token = m.token
    ), stats AS (
      SELECT token, COUNT(*)::BIGINT AS n, SUM(fq)::BIGINT AS sf,
             SUM(fq * fq)::BIGINT AS sff
      FROM fq GROUP BY 1
    ), zq AS (
      SELECT source, fq.token,
             CASE WHEN (n::DOUBLE * sff::DOUBLE - sf::DOUBLE * sf::DOUBLE)
                       > 0 THEN
               ROUND((n::DOUBLE * fq::DOUBLE - sf::DOUBLE)
                     / sqrt(n::DOUBLE * sff::DOUBLE - sf::DOUBLE * sf::DOUBLE)
                     * 1e6)::BIGINT
             END AS zq
      FROM fq JOIN stats ON fq.token = stats.token
    ), zz AS (
      SELECT * FROM zq WHERE zq IS NOT NULL
    )
    SELECT a.source AS source_a, b.source AS source_b,
           COUNT(*)::BIGINT AS n_markers,
           ROUND(SUM(abs(a.zq - b.zq))::DOUBLE / COUNT(*)::DOUBLE / 1e6, 4)
             AS delta
    FROM zz a JOIN zz b ON a.token = b.token AND a.source < b.source
    GROUP BY 1, 2 ORDER BY source_a, source_b
    """,
    tags=("T-31",),
    op=TX.burrows_delta, tables=("documents",),
)


register(
    "user_resurrections",
    """
    WITH ud AS (
      SELECT DISTINCT user_id,
             (ts::DATE - DATE '1970-01-01')::BIGINT AS d
      FROM events WHERE user_id IS NOT NULL
    ), flagged AS (
      SELECT d,
             CASE WHEN d - lag(d) OVER (PARTITION BY user_id ORDER BY d)
                       >= 14
                  THEN 1 ELSE 0 END AS res
      FROM ud
    )
    SELECT strftime(DATE '1970-01-01' + d::INT, '%Y-%m-%d') AS day,
           COUNT(*)::BIGINT AS n_active_users,
           SUM(res)::BIGINT AS n_resurrected,
           ROUND(SUM(res)::DOUBLE / COUNT(*)::DOUBLE, 4)
             AS resurrection_share
    FROM flagged GROUP BY d ORDER BY day
    """,
    tags=("W-20",),
    op=AN.user_resurrections, tables=("events",),
)


register(
    "dedup_tier_agreement",
    NDP_PAIRS_CTES
    + SIMHASH_SQL
    + """
    , mh AS (SELECT doc_a, doc_b FROM pairs WHERE jaccard >= 0.5)
    , shp AS (
      SELECT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
               list_sum(list_transform(range(1, 33),
                 i -> CASE WHEN substr(a.simhash, i, 1)
                                <> substr(b.simhash, i, 1)
                      THEN 1 ELSE 0 END))::INT AS hamming
        FROM sh2 a JOIN sh2 b ON a.doc_id < b.doc_id
      ) WHERE hamming <= 3
    )
    , exg AS (SELECT md5(text) AS dg, doc_id FROM documents)
    , exok AS (
      SELECT dg FROM exg GROUP BY dg
      HAVING COUNT(*) BETWEEN 2 AND 64
    )
    , ex_pairs AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM exg a JOIN exg b ON a.dg = b.dg AND a.doc_id < b.doc_id
      JOIN exok ON a.dg = exok.dg
    )
    , tiers AS (
      SELECT 'exact' AS tier, doc_a, doc_b FROM ex_pairs
      UNION ALL SELECT 'minhash', doc_a, doc_b FROM mh
      UNION ALL SELECT 'simhash', doc_a, doc_b FROM shp
    )
    , sizes AS (SELECT tier, COUNT(*)::BIGINT AS n FROM tiers GROUP BY 1)
    , tn AS (SELECT unnest(['exact', 'minhash', 'simhash']) AS tier)
    , tpx AS (
      SELECT a.tier AS tier_a, b.tier AS tier_b
      FROM tn a, tn b WHERE a.tier < b.tier
    )
    , inter AS (
      SELECT x.tier AS tier_a, y.tier AS tier_b,
             COUNT(*)::BIGINT AS n_common
      FROM tiers x JOIN tiers y
        ON x.doc_a = y.doc_a AND x.doc_b = y.doc_b AND x.tier < y.tier
      GROUP BY 1, 2
    )
    SELECT tpx.tier_a AS tier_a, tpx.tier_b AS tier_b,
           COALESCE(sa.n, 0)::BIGINT AS n_a,
           COALESCE(sb.n, 0)::BIGINT AS n_b,
           COALESCE(i.n_common, 0)::BIGINT AS n_common,
           CASE WHEN (COALESCE(sa.n, 0) + COALESCE(sb.n, 0)
                      - COALESCE(i.n_common, 0)) > 0 THEN
             ROUND(COALESCE(i.n_common, 0)::DOUBLE
                   / (COALESCE(sa.n, 0) + COALESCE(sb.n, 0)
                      - COALESCE(i.n_common, 0))::DOUBLE, 4)
           END AS pair_jaccard
    FROM tpx
    LEFT JOIN sizes sa ON tpx.tier_a = sa.tier
    LEFT JOIN sizes sb ON tpx.tier_b = sb.tier
    LEFT JOIN inter i ON tpx.tier_a = i.tier_a AND tpx.tier_b = i.tier_b
    ORDER BY tpx.tier_a, tpx.tier_b
    """,
    tags=("DD-17",),
    op=DD.dedup_tier_agreement, tables=("documents",),
)


@register(
    "media_byte_entropy",
    MEDIA_CTE
    + """
    , chars AS (
      SELECT media_id, kind, substr(text, i, 1) AS ch
      FROM media, unnest(range(1, length(text) + 1)) AS r(i)
    ), cells AS (
      SELECT media_id, kind, ch, COUNT(*)::BIGINT AS c
      FROM chars GROUP BY 1, 2, 3
    ), per_media AS (
      SELECT media_id, kind, SUM(c)::BIGINT AS n_bytes,
             SUM(ROUND(c::DOUBLE * ln(c::DOUBLE) * 1e6)::BIGINT)::BIGINT
               AS sq
      FROM cells GROUP BY 1, 2
    )
    SELECT media_id, kind, n_bytes,
           CASE WHEN n_bytes > 0 THEN
             ROUND((ln(n_bytes::DOUBLE)
                    - (sq::DOUBLE / 1e6) / n_bytes::DOUBLE)
                   / ln(CAST(2.0 AS DOUBLE)), 4)
           END AS entropy_bits_per_byte
    FROM per_media ORDER BY media_id
    """,
    tags=("M-8",),
)
def q_media_byte_entropy(spark, sf_dir):
    """M-8 byte-level Shannon entropy per payload (bits/byte): the
    decode-free corruption/compression detector. c*ln(c) terms
    quantize to micros before the per-payload sum; three mirrored
    IEEE ops close each row."""
    media = MM.media_from_documents(_docs(spark, sf_dir))
    return MM.media_byte_entropy(media)


register(
    "mann_whitney_value",
    """
    WITH rows_ AS (
      SELECT (value::DECIMAL(18,2) * 100)::DECIMAL(38,0)::BIGINT AS c,
             CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_a
      FROM events WHERE event_type IN ('purchase', 'view')
    ), cells AS (
      SELECT c, SUM(is_a)::BIGINT AS ca, SUM(1 - is_a)::BIGINT AS cb
      FROM rows_ GROUP BY 1
    ), ranked AS (
      SELECT c, ca, cb,
             ((SUM(ca + cb) OVER (ORDER BY c ROWS UNBOUNDED PRECEDING)
               - (ca + cb)) * 2 + (ca + cb) + 1)::BIGINT AS r2
      FROM cells
    ), m AS (
      SELECT SUM(ca)::BIGINT AS na, SUM(cb)::BIGINT AS nb,
             SUM(ca::DECIMAL(38,0) * r2::DECIMAL(38,0))::DECIMAL(38,0)
               AS r2a,
             SUM((ca + cb)::DECIMAL(38,0) * (ca + cb)::DECIMAL(38,0)
                 * (ca + cb)::DECIMAL(38,0)
                 - (ca + cb)::DECIMAL(38,0))::DECIMAL(38,0) AS ties
      FROM ranked
    )
    SELECT na AS n_a, nb AS n_b,
           ROUND(na::DOUBLE * nb::DOUBLE
                 + na::DOUBLE * (na::DOUBLE + 1) / CAST(2 AS DOUBLE)
                 - r2a::DOUBLE / CAST(2 AS DOUBLE), 1) AS u_a,
           CASE WHEN na > 0 AND nb > 0
                 AND (na::DOUBLE * nb::DOUBLE
                      * ((na::DOUBLE + nb::DOUBLE + 1)
                         * (na::DOUBLE + nb::DOUBLE)
                         * (na::DOUBLE + nb::DOUBLE - 1) - ties::DOUBLE)
                      / (CAST(12 AS DOUBLE) * (na::DOUBLE + nb::DOUBLE)
                         * (na::DOUBLE + nb::DOUBLE - 1))) > 0
           THEN ROUND(
             (na::DOUBLE * nb::DOUBLE
              + na::DOUBLE * (na::DOUBLE + 1) / CAST(2 AS DOUBLE)
              - r2a::DOUBLE / CAST(2 AS DOUBLE)
              - na::DOUBLE * nb::DOUBLE / CAST(2 AS DOUBLE))
             / sqrt(na::DOUBLE * nb::DOUBLE
                    * ((na::DOUBLE + nb::DOUBLE + 1)
                       * (na::DOUBLE + nb::DOUBLE)
                       * (na::DOUBLE + nb::DOUBLE - 1) - ties::DOUBLE)
                    / (CAST(12 AS DOUBLE) * (na::DOUBLE + nb::DOUBLE)
                       * (na::DOUBLE + nb::DOUBLE - 1))), 4)
           END AS z,
           CASE WHEN na > 0 AND nb > 0
                 AND (na::DOUBLE * nb::DOUBLE
                      * ((na::DOUBLE + nb::DOUBLE + 1)
                         * (na::DOUBLE + nb::DOUBLE)
                         * (na::DOUBLE + nb::DOUBLE - 1) - ties::DOUBLE)
                      / (CAST(12 AS DOUBLE) * (na::DOUBLE + nb::DOUBLE)
                         * (na::DOUBLE + nb::DOUBLE - 1))) > 0
           THEN abs((na::DOUBLE * nb::DOUBLE
                     + na::DOUBLE * (na::DOUBLE + 1) / CAST(2 AS DOUBLE)
                     - r2a::DOUBLE / CAST(2 AS DOUBLE)
                     - na::DOUBLE * nb::DOUBLE / CAST(2 AS DOUBLE))
                    / sqrt(na::DOUBLE * nb::DOUBLE
                           * ((na::DOUBLE + nb::DOUBLE + 1)
                              * (na::DOUBLE + nb::DOUBLE)
                              * (na::DOUBLE + nb::DOUBLE - 1)
                              - ties::DOUBLE)
                           / (CAST(12 AS DOUBLE)
                              * (na::DOUBLE + nb::DOUBLE)
                              * (na::DOUBLE + nb::DOUBLE - 1))))
                > CAST(1.96 AS DOUBLE)
           END AS significant
    FROM m
    """,
    tags=("AGG-22",),
    op=AN.mann_whitney_value, tables=("events",),
)


@register(
    "binary_file_roundtrip",
    MEDIA_CTE
    + """
    SELECT kind, COUNT(*)::BIGINT AS n_files,
           SUM(length(text))::BIGINT AS total_bytes,
           COUNT(DISTINCT md5(text))::BIGINT AS distinct_digests
    FROM media GROUP BY kind ORDER BY kind
    """,
    tags=("S-19",),
)
def q_binary_file_roundtrip(spark, sf_dir):
    """S-19 ``binaryFile`` source: write every media payload as its
    own blob file under kind=... partition directories (executor-side
    foreach — the file-per-object layout image/audio corpora actually
    ship as), read the directory back with Spark's native binaryFile
    format (partition discovery recovers ``kind``; pathGlobFilter
    prunes at the listing), and aggregate counts/bytes/digests per
    kind. The oracle recomputes the same aggregates from the source
    rows, proving the blob hop byte-lossless — the S-4 roundtrip
    contract extended to Spark's one read-only binary source.

    The blob-WRITE leg targets a local tempdir, which executors can
    only reach when they share the driver's filesystem — so the
    executor-side ``foreach`` runs only under a ``local[*]`` master;
    any other master falls back to a driver-side ``toLocalIterator``
    write (streams one partition at a time, never a full collect) so
    a cluster run stays CORRECT instead of silently reading a
    partial directory. The binaryFile READ leg has the same
    constraint: it lists the driver-local tempdir, so on a
    non-shared-filesystem cluster it fails LOUDLY (FileNotFound on
    the executors) rather than silently — on a real cluster BOTH
    legs would point at shared storage (HDFS/object store) and keep
    the distributed ``foreach`` + distributed read."""
    from pyspark.sql import functions as F

    media = MM.media_from_documents(_docs(spark, sf_dir))
    base = _scratch_path("bls_binfiles", sf_dir)

    def _write_blob(row):
        import os

        d = os.path.join(base, f"kind={row['kind']}")
        os.makedirs(d, exist_ok=True)
        tmp = os.path.join(d, f".{row['media_id']}.bin.tmp")
        with open(tmp, "wb") as f:
            f.write(bytes(row["content"]))
        os.replace(tmp, os.path.join(d, f"{row['media_id']}.bin"))

    blobs = media.select("media_id", "kind", "content")
    if spark.sparkContext.master.startswith("local"):
        blobs.foreach(_write_blob)
    else:  # executors don't share the driver tempdir — write here
        for row in blobs.toLocalIterator():
            _write_blob(row)
    back = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.bin")
        .load(base)
    )
    return (
        back.groupBy("kind")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum(F.length("content")).alias("total_bytes"),
            F.countDistinct(F.md5("content")).alias("distinct_digests"),
        )
        .select(
            F.col("kind").cast("string").alias("kind"),
            "n_files",
            "total_bytes",
            "distinct_digests",
        )
        .orderBy("kind")
    )
