"""The dashboard aggregation family (SURVEY.md §2.2-§2.5, D-18..D-45).

The reference computes these eagerly in pandas over a full MongoDB
scan per interaction (``src/stats_dashboard.py:13-240``). Here each is
a lazy DataFrame transform; the flagship per-entity profile fuses the
reference's 14 sequential groupby passes
(``src/stats_dashboard.py:103-117``) into ONE ``groupBy().agg()`` —
a single shuffle, map-side partial aggregation, AQE skew handling.

Domain mapping (FIXTURES.md §A): the driver's ``events`` table plays
the parsed-log stream — ``user_id`` ↔ the reference's ``ip`` entity,
``event_type`` ↔ ``event``, ``props.$.k`` ↔ ``port``, ``value > 150``
↔ the root/admin-attempt conditional (``src/stats_dashboard.py:114``).

Hash-compare conventions (shared with the DuckDB oracles in
``__spark_entry__.py``):
- dates/timestamps in outputs are formatted to ISO strings;
- double sums go through exact DECIMAL accumulation then one cast to
  double (order-independent, so partition-parallel sums hash-match);
- averages are written sum/count explicitly;
- every computed column is aliased identically in Spark and SQL.
"""

from __future__ import annotations

from functools import reduce

import pandas  # noqa: F401  (resolves stringified pandas_udf type hints)
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigdata_logs_spark.functions import count_if, sorted_distinct_string

# Closed domain of event types in the fixture (explicit pivot values:
# keeps the pivot single-pass and the output schema deterministic).
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")

# The reference's suspicious set is {failed_password, invalid_user,
# auth_failure} of its 11 tags (src/stats_dashboard.py:82); the
# events-table analogue:
SUSPICIOUS_EVENT_TYPES = ("error", "signup")

# Analogue of lower(user) IN ('root','admin') (src/stats_dashboard.py:114).
HIGH_VALUE_THRESHOLD = 150.0


def _k(events: DataFrame) -> DataFrame:
    """Extract the integer ``k`` from the JSON ``props`` column (the
    'port' analogue). Native regexp — stays in whole-stage codegen."""
    return events.withColumn(
        "k", F.regexp_extract(F.col("props"), r'"k"\s*:\s*(\d+)', 1).cast("long")
    )


def _dsum(c: Column) -> Column:
    """Order-independent sum of a 2-dp money-like double: accumulate
    exactly in decimal, cast once to double."""
    return F.sum(c.cast("decimal(18,2)")).cast("double")


def _date(c: Column) -> Column:
    return F.date_format(c, "yyyy-MM-dd")


def _ts_str(c: Column) -> Column:
    return F.date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS")


def _suspicious(c: Column) -> Column:
    return c.isin(*SUSPICIOUS_EVENT_TYPES)


# ---------------------------------------------------------------- D-18..D-20

def global_metrics(events: DataFrame) -> DataFrame:
    """Scalar metric row (D-18 total, D-19 uniques, D-20+D-15 failed
    rate; src/stats_dashboard.py:35-42)."""
    return events.agg(
        F.count(F.lit(1)).alias("total_records"),
        F.countDistinct("user_id").alias("unique_users"),
        F.countDistinct("event_type").alias("distinct_events"),
        count_if(_suspicious(F.col("event_type"))).alias("failed_events"),
        F.round(
            count_if(_suspicious(F.col("event_type"))) * 100.0 / F.count(F.lit(1)), 2
        ).alias("failed_rate_pct"),
    )


def global_metrics_approx(events: DataFrame) -> DataFrame:
    """100 TB variant of D-19: sketch-based distinct counts (no exact
    global distinct over billions of keys)."""
    return events.agg(
        F.count(F.lit(1)).alias("total_records"),
        F.approx_count_distinct("user_id").alias("approx_unique_users"),
        F.approx_count_distinct("event_type").alias("approx_distinct_events"),
    )


def value_percentiles_approx(
    events: DataFrame, accuracy: int = 10000
) -> DataFrame:
    """100 TB variant of AGG-2: KLL/GK-sketch percentiles via
    ``approx_percentile`` — mergeable fixed-size state per partition
    instead of a full sort of the value column. No cross-engine
    oracle (sketch internals differ); the error bound vs the exact
    twin is pytest-pinned (rank error <= 1/accuracy)."""
    pcts = F.expr(
        f"approx_percentile(value, array(0.5D, 0.95D, 0.99D), {accuracy})"
    )
    return (
        events.groupBy("event_type")
        .agg(pcts.alias("p"))
        .select(
            "event_type",
            F.round(F.element_at("p", 1), 6).alias("p50"),
            F.round(F.element_at("p", 2), 6).alias("p95"),
            F.round(F.element_at("p", 3), 6).alias("p99"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------- D-21

def event_type_counts(events: DataFrame) -> DataFrame:
    """value_counts() of event_type, count desc (D-21;
    src/stats_dashboard.py:47)."""
    return (
        events.groupBy(F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("event_type"))
    )


def entity_value_counts(events: DataFrame, k: int = 10) -> DataFrame:
    """Top users by event count (D-21+D-39; src/stats_dashboard.py:50).
    orderBy+limit plans as TakeOrderedAndProject (distributed top-k,
    no global sort). Deterministic tiebreak on the key."""
    return (
        events.groupBy(F.col("user_id"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("user_id"))
        .limit(k)
    )


# ---------------------------------------------------------- D-22/D-10/D-11

def events_per_hour(events: DataFrame) -> DataFrame:
    """Group-count by hour-of-day, zero-padded label (D-22+D-10+D-12;
    src/stats_dashboard.py:61-64)."""
    return (
        events.groupBy(
            F.format_string("%02d", F.hour("ts").cast("int")).alias("hour")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("hour")
    )


def events_per_day(events: DataFrame) -> DataFrame:
    """Total events per calendar day (D-22+D-11;
    src/stats_dashboard.py:76-78)."""
    return (
        events.groupBy(_date(F.col("ts")).alias("date"))
        .agg(F.count(F.lit(1)).alias("total_events"))
        .orderBy("date")
    )


def events_by_type_per_day(events: DataFrame) -> DataFrame:
    """Multi-key group-count (D-23; src/stats_dashboard.py:92)."""
    return (
        events.groupBy(_date(F.col("ts")).alias("date"), F.col("event_type"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("date", "event_type")
    )


# ---------------------------------------------------------- D-13/D-24

def suspicious_vs_normal_per_day(events: DataFrame) -> DataFrame:
    """Suspicious/Normal label then per-day pivot with 0-fill
    (D-13+D-23+D-24; src/stats_dashboard.py:82-86). Explicit pivot
    values -> single job, fixed schema."""
    labeled = events.withColumn(
        "event_class",
        F.when(_suspicious(F.col("event_type")), F.lit("Suspicious")).otherwise(
            F.lit("Normal")
        ),
    )
    return (
        labeled.groupBy(_date(F.col("ts")).alias("date"))
        .pivot("event_class", ["Suspicious", "Normal"])
        .agg(F.count(F.lit(1)))
        .na.fill(0, ["Suspicious", "Normal"])
        .orderBy("date")
    )


# ----------------------------------------------------------------- D-25

def entity_event_matrix(events: DataFrame) -> DataFrame:
    """Per-entity × event-type count matrix (D-25;
    src/stats_dashboard.py:103). Explicit value list = one shuffle."""
    return (
        events.groupBy(F.col("user_id"))
        .pivot("event_type", list(EVENT_TYPES))
        .agg(F.count(F.lit(1)))
        .na.fill(0, list(EVENT_TYPES))
        .orderBy("user_id")
    )


# ------------------------------------------- D-26..D-31 + D-14 + D-43 fused

def entity_profile(events: DataFrame) -> DataFrame:
    """The flagship fused per-entity profile.

    Replaces the reference's 14 sequential passes + 2 map-back joins
    (src/stats_dashboard.py:103-144) with ONE groupBy().agg() — a
    single shuffle on ``user_id`` — followed by narrow column
    arithmetic for the suspicious score (D-14,
    src/stats_dashboard.py:119-125) and the Attacker/Bot/Authorized
    classifier (D-43, src/stats_dashboard.py:127-143), which needs no
    UDF: it is pure arithmetic, expressed as native columns.
    """
    ev = _k(events)
    susp = _suspicious(F.col("event_type"))
    per_type = [
        count_if(F.col("event_type") == t).alias(f"{t}_events") for t in EVENT_TYPES
    ]
    # Distinct counts derive from collected sets rather than
    # countDistinct: k_list needs the set anyway, and two countDistinct
    # columns would force Catalyst's Expand (x3 rows) multi-distinct
    # plan with an extra exchange — this form is one shuffle, period.
    prof = (
        ev.groupBy(F.col("user_id"))
        .agg(
            *per_type,
            F.count(F.lit(1)).alias("total_events"),
            F.sort_array(F.collect_set(F.col("k").cast("string"))).alias("k_set"),
            F.collect_set("event_type").alias("et_set"),
            _ts_str(F.min("ts")).alias("first_seen"),
            _ts_str(F.max("ts")).alias("last_seen"),
            count_if(susp).alias("failed_events"),
            count_if(F.col("value") > F.lit(HIGH_VALUE_THRESHOLD)).alias(
                "high_value_events"
            ),
            _dsum(F.col("value")).alias("total_value"),
        )
        .withColumns(
            {
                "distinct_k": F.size("k_set").cast("long"),
                "k_list": F.array_join(F.col("k_set"), ","),
                "event_diversity": F.size("et_set").cast("long"),
            }
        )
        .drop("k_set", "et_set")
    )
    score = F.least(
        F.lit(100.0),
        2.0 * F.col("failed_events")
        + 3.0 * F.col("distinct_k")
        + 0.5 * F.col("total_events")
        + 15.0 * (F.col("high_value_events") > 0).cast("int")
        + 1.0 * F.col("event_diversity"),
    )
    prof = prof.withColumn("suspicious_score", score)
    # Classifier (D-43): min/max clamps (D-16), normalized percentages
    # (D-15). Operand order mirrors the oracle SQL exactly so the
    # float64 results are bit-identical.
    attacker = F.least(
        F.lit(100.0),
        0.6 * F.col("suspicious_score")
        + 5.0 * F.col("high_value_events")
        + 2.0 * F.col("failed_events"),
    )
    bot = F.least(
        F.lit(100.0), 1.5 * F.col("event_diversity") + 2.0 * F.col("distinct_k")
    )
    prof = prof.withColumns({"attacker_score": attacker, "bot_score": bot})
    legit = F.greatest(
        F.lit(0.0), F.lit(100.0) - F.col("attacker_score") - F.col("bot_score")
    )
    prof = prof.withColumn("legit_score", legit)
    total = F.col("attacker_score") + F.col("bot_score") + F.col("legit_score")
    return prof.withColumns(
        {
            "attacker_pct": F.round(F.col("attacker_score") * 100.0 / total, 1),
            "bot_pct": F.round(F.col("bot_score") * 100.0 / total, 1),
            "authorized_pct": F.round(F.col("legit_score") * 100.0 / total, 1),
        }
    ).drop("attacker_score", "bot_score", "legit_score")


def entity_profile_sorted(events: DataFrame) -> DataFrame:
    """Profile ordered by suspicious_score desc (D-36;
    src/stats_dashboard.py:144)."""
    return entity_profile(events).orderBy(
        F.desc("suspicious_score"), F.asc("user_id")
    )


# ----------------------------------------------------------------- D-32

def profile_global_stats(profile: DataFrame) -> DataFrame:
    """Second-level aggregation over the per-entity profile (D-32+D-8;
    src/stats_dashboard.py:149-158)."""
    return profile.agg(
        F.count(F.lit(1)).alias("total_entities"),
        count_if(F.col("failed_events") > 0).alias("entities_with_failures"),
        count_if(F.col("high_value_events") > 0).alias("entities_high_value"),
        count_if(F.col("total_events") > 100).alias("entities_over_100_events"),
        F.max("total_events").alias("max_events_per_entity"),
        F.round(F.sum("total_events") / F.count(F.lit(1)), 2).alias(
            "avg_events_per_entity"
        ),
        F.round(F.sum("suspicious_score") / F.count(F.lit(1)), 2).alias(
            "avg_suspicious_score"
        ),
        count_if(F.col("suspicious_score") > 80).alias("entities_score_over_80"),
    )


# ----------------------------------------------------------------- D-33

def diversity_distribution(profile: DataFrame) -> DataFrame:
    """Distribution of an aggregate: value_counts of event_diversity
    over the profile table (D-33; src/stats_dashboard.py:174-181)."""
    return (
        profile.groupBy(F.col("event_diversity"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_diversity")
    )


# ----------------------------------------------------------------- D-34

def score_histogram(profile: DataFrame, bin_width: float = 5.0) -> DataFrame:
    """Deterministic fixed-width histogram of suspicious_score (D-34;
    src/stats_dashboard.py:163 uses plotly nbins=20 -> we define bins
    explicitly so the result is engine-independent)."""
    return (
        profile.groupBy(
            (F.floor(F.col("suspicious_score") / F.lit(bin_width)) * F.lit(bin_width))
            .cast("double")
            .alias("score_bin")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("score_bin")
    )


# ----------------------------------------------------------------- D-35

def distinct_event_types(events: DataFrame) -> DataFrame:
    """Selector domain: sorted distinct event types (D-35;
    src/stats_dashboard.py:56)."""
    return (
        events.select(F.col("event_type")).na.drop().distinct().orderBy("event_type")
    )


# ------------------------------------------------------------- D-3/D-6/D-7

def events_for_entity(events: DataFrame, user_id: int) -> DataFrame:
    """Point-lookup + sort desc by time (D-6+D-36+D-7;
    src/stats_dashboard.py:213-214). At scale this is a partition-
    prunable scan when the store is partitioned/bucketed by entity."""
    return (
        events.filter(F.col("user_id") == F.lit(user_id))
        .select(
            "event_id",
            _ts_str(F.col("ts")).alias("ts"),
            "user_id",
            "event_type",
            "value",
            "props",
        )
        .orderBy(F.desc("ts"), F.asc("event_id"))
    )


def events_of_type(events: DataFrame, event_type: str) -> DataFrame:
    """Equality filter (D-3; src/stats_dashboard.py:58)."""
    return events.filter(F.col("event_type") == F.lit(event_type)).select(
        "event_id", _ts_str(F.col("ts")).alias("ts"), "user_id", "event_type", "value"
    )


def entity_hourly_activity(events: DataFrame, user_id: int) -> DataFrame:
    """Per-entity access-by-hour with HH:00 labels (D-6+D-22+D-12;
    src/stats_dashboard.py:228-229)."""
    return (
        events.filter(F.col("user_id") == F.lit(user_id))
        .groupBy(
            F.format_string("%02d:00", F.hour("ts").cast("int")).alias("hour_label")
        )
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("hour_label")
    )


# ----------------------------------------------------------------- D-45

def profile_percentages_long(profile: DataFrame) -> DataFrame:
    """Wide->long unpivot of the classifier percentages (D-45;
    src/stats_dashboard.py:237-238): the only UDTF-shaped op, native
    via stack()."""
    return profile.select(
        F.col("user_id"),
        F.expr(
            "stack(3, 'Attacker', attacker_pct, 'Bot', bot_pct, "
            "'Authorized', authorized_pct) as (category, probability)"
        ),
    ).orderBy("user_id", "category")


def column_profile(events: DataFrame) -> DataFrame:
    """Per-column null + exact-distinct profile of the events table —
    the `nunique()` / `dropna()` sweep the reference's dashboard
    does column-by-column (`src/stats_dashboard.py:29,36-38`: dropna
    on datetime, nunique per metric tile), as ONE aggregation pass
    stacked to a row per column.

    Exact countDistinct across many columns expands the input
    (one replica per distinct-aggregate); that is acceptable where an
    oracle must attest the numbers — at 100 TB swap each for
    ``approx_count_distinct`` and the expand disappears (the same
    exact-vs-approx trade documented on ``global_metrics_approx``).
    """
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    aggs = []
    for c in cols:
        aggs.append(F.sum(F.col(c).isNull().cast("long")).alias(f"{c}__nulls"))
        aggs.append(F.countDistinct(c).alias(f"{c}__distinct"))
    stacked = ", ".join(
        f"'{c}', {c}__nulls, {c}__distinct" for c in cols
    )
    return (
        events.agg(*aggs)
        .select(
            F.expr(
                f"stack({len(cols)}, {stacked}) AS (column_name, n_nulls, n_distinct)"
            )
        )
        .orderBy("column_name")
    )


def value_median_pandas_agg(events: DataFrame) -> DataFrame:
    """U-4: grouped-AGGREGATE ``@pandas_udf`` (series -> scalar per
    group) — the last pandas extension-point flavor (U-1 grouped map,
    U-2 scalar, U-3 stateful): per event type, the exact interpolated
    median of ``value`` computed by numpy inside Arrow batches.

    numpy's linear interpolation is the same rank formula as Spark's
    ``percentile`` and DuckDB's ``quantile_cont``, so the three agree
    bit-for-bit before the final round(6) — which is what lets a
    Python aggregate sit in an oracle-checked registry at all. Native
    ``percentile`` (AGG-2) stays the hot path; this proves the
    escape hatch for aggregations built-ins can't express.
    """
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def exact_median(v: "pandas.Series") -> float:  # noqa: F821
        import numpy as np

        return float(np.percentile(v.to_numpy(), 50.0, method="linear"))

    return (
        events.groupBy("event_type")
        .agg(F.round(exact_median("value"), 6).alias("p50"))
        .orderBy("event_type")
    )


def props_typed_extract(events: DataFrame) -> DataFrame:
    """F-2: TYPED semi-structured extraction — ``from_json`` with an
    explicit schema turns the ``props`` JSON string into a real
    struct column once, after which everything is ordinary typed
    relational work (vs F-1's per-field ``get_json_object`` string
    path). At scale the explicit schema also means one parse per row
    regardless of how many fields downstream expressions touch.
    """
    parsed = events.withColumn(
        "p", F.from_json("props", "k INT")
    )
    return (
        parsed.groupBy("event_type")
        .agg(
            F.count("p.k").alias("n_with_k"),
            F.sum(F.col("p.k").cast("long")).alias("sum_k"),
            F.min("p.k").alias("min_k"),
            F.max("p.k").alias("max_k"),
        )
        .orderBy("event_type")
    )


def daily_value_ribbon(events: DataFrame) -> DataFrame:
    """D-52: the p10/p50/p90 daily value ribbon — the spread band a
    time-series chart draws around its median line (the reference's
    per-hour chart shows only counts, stats_dashboard.py:61-78; this
    is the value-distribution view that shows WHEN values got weird,
    pairing with W-9's OHLC extremes).

    Exact interpolated percentiles per day (both engines interpolate
    linearly on the sorted set — the proven AGG-2 parity). At 100 TB
    swap for approx_percentile: same call shape, sketch-based,
    map-side combinable.
    """
    return (
        events.groupBy(_date(F.col("ts")).alias("date"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.percentile("value", F.lit(0.1)), 6).alias("p10"),
            F.round(F.percentile("value", F.lit(0.5)), 6).alias("p50"),
            F.round(F.percentile("value", F.lit(0.9)), 6).alias("p90"),
        )
        .orderBy("date")
    )


def dashboard_render_all(events: DataFrame) -> DataFrame:
    """D-53: the whole stats dashboard rendered as ONE multi-output
    pass — every always-on panel of the reference UI
    (``src/stats_dashboard.py:35-181``: the metric tiles, event/user
    bar charts, hourly + daily lines, suspicious-vs-normal and
    by-type evolutions, the profile-level global stats, diversity and
    score histograms) emitted together as one long-format table
    ``(panel, k, metric, value)``.

    The reference recomputes each of these from a fresh full
    collection scan per Streamlit interaction. Here the event stream
    is scanned ONCE into a tracked cache, the flagship fused profile
    (D-26..D-31) is materialized once more, and all ten panels
    aggregate those two cached inputs — the amortized "render
    everything" cost a long-lived dashboard session actually pays.
    At 100 TB each panel is an independent shuffle over the shared
    cached base (or its parquet materialization), so panels
    parallelize across the cluster instead of serializing per
    interaction.

    Exactness: every value lands as DOUBLE — counts are exact
    integers cast once; the two averages and the failed-rate keep
    their source ops' ROUND(x, 2) convention; keys render as strings
    (zero-padded hour, ISO date, integral score bin).
    """
    from bigdata_logs_spark.caching import tracked_cache

    base = tracked_cache(
        events.select("user_id", "event_type", "ts", "value", "props")
    )
    prof = tracked_cache(entity_profile(base))

    def melt(df: DataFrame, panel: str, key: Column, metrics: list[str]) -> DataFrame:
        pairs = ", ".join(f"'{m}', CAST(`{m}` AS DOUBLE)" for m in metrics)
        return df.select(
            F.lit(panel).alias("panel"),
            key.alias("k"),
            F.expr(f"stack({len(metrics)}, {pairs})").alias("metric", "value"),
        )

    panels = [
        melt(
            global_metrics(base),
            "global",
            F.lit(""),
            [
                "total_records",
                "unique_users",
                "distinct_events",
                "failed_events",
                "failed_rate_pct",
            ],
        ),
        melt(event_type_counts(base), "event_counts", F.col("event_type"), ["n"]),
        melt(
            entity_value_counts(base, 10),
            "top_users",
            F.col("user_id").cast("string"),
            ["n"],
        ),
        melt(events_per_hour(base), "per_hour", F.col("hour"), ["n"]),
        melt(events_per_day(base), "per_day", F.col("date"), ["total_events"]),
        melt(
            suspicious_vs_normal_per_day(base),
            "susp_vs_normal",
            F.col("date"),
            ["Suspicious", "Normal"],
        ),
        events_by_type_per_day(base).select(
            F.lit("by_type_per_day").alias("panel"),
            F.col("date").alias("k"),
            F.col("event_type").alias("metric"),
            F.col("n").cast("double").alias("value"),
        ),
        melt(
            profile_global_stats(prof),
            "profile_stats",
            F.lit(""),
            [
                "total_entities",
                "entities_with_failures",
                "entities_high_value",
                "entities_over_100_events",
                "max_events_per_entity",
                "avg_events_per_entity",
                "avg_suspicious_score",
                "entities_score_over_80",
            ],
        ),
        melt(
            diversity_distribution(prof),
            "diversity",
            F.col("event_diversity").cast("string"),
            ["n"],
        ),
        melt(
            score_histogram(prof),
            "score_hist",
            F.col("score_bin").cast("bigint").cast("string"),
            ["n"],
        ),
    ]
    return reduce(DataFrame.unionByName, panels).orderBy("panel", "k", "metric")


def dq_expectations(events: DataFrame) -> DataFrame:
    """OPS-2: declarative data-quality gate (the Deequ /
    Great-Expectations pattern): a fixed suite of constraints is
    evaluated in ONE aggregation pass over the fact table, and each
    emits an audit row ``(constraint, observed, threshold, passed)``
    — the report a pipeline checks before promoting a load, next to
    OPS-1's write-time metrics. D-46's column profile DESCRIBES the
    table; this one JUDGES it against declared expectations.

    Suite: completeness (value / user_id null fraction), uniqueness
    (event_id), domain (event_type within the closed set), range
    (value >= 0), and freshness-shape (ts parses inside the fixture
    era). Observed values are exact integer counts scaled to
    micro-fractions (BIGINT), so pass/fail thresholds compare
    integers — no float drift can flip a verdict cross-engine.

    Scale shape: one map-side-combinable aggregate (the uniqueness
    check rides count-distinct — swap for approx_count_distinct at
    100 TB, same expression shape); the unpivot happens on the
    single result row.
    """
    domain = F.col("event_type").isin(*EVENT_TYPES)
    era = (F.col("ts") >= F.lit("2020-01-01")) & (
        F.col("ts") < F.lit("2030-01-01")
    )
    m = events.agg(
        F.count(F.lit(1)).alias("n"),
        count_if(F.col("value").isNull()).alias("value_nulls"),
        count_if(F.col("user_id").isNull()).alias("user_nulls"),
        (F.count(F.lit(1)) - F.countDistinct("event_id")).alias("dup_ids"),
        count_if(~domain).alias("out_of_domain"),
        count_if(F.col("value") < 0).alias("negative_values"),
        count_if(~era).alias("ts_out_of_era"),
    )
    # integer division (div / //) on BOTH engines: float division cast
    # to BIGINT truncates in Spark but rounds in DuckDB
    micro = lambda c: F.expr(f"({c} * 1000000L) div n")  # noqa: E731
    checks = [
        ("completeness:value", micro("value_nulls"), 10_000),
        ("completeness:user_id", micro("user_nulls"), 0),
        ("uniqueness:event_id", F.col("dup_ids").cast("long"), 0),
        ("domain:event_type", F.col("out_of_domain").cast("long"), 0),
        ("range:value>=0", F.col("negative_values").cast("long"), 0),
        ("freshness:ts_in_era", F.col("ts_out_of_era").cast("long"), 0),
    ]
    rows = [
        m.select(
            F.lit(name).alias("constraint"),
            obs.alias("observed"),
            F.lit(limit).cast("long").alias("threshold"),
            (obs <= F.lit(limit)).alias("passed"),
        )
        for name, obs, limit in checks
    ]
    return reduce(DataFrame.unionByName, rows).orderBy("constraint")
