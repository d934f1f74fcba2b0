"""Batch anomaly-detection operators (SURVEY.md §2 AD-1..AD-5).

The reference's stated purpose is "Detección de anomalías en los logs
del sistema" (``/root/reference/README.md:2``), but its dashboard only
*renders* counts and leaves the anomaly call to the viewer
(``src/stats_dashboard.py:61-101`` draws the per-hour/per-day series;
``stats_dashboard.py:119-125`` scores IPs with a hand-tuned linear
formula). These operators close that loop with explicit statistical
detectors, batch twins of the streaming detectors in
``streaming/ingest.py``:

- AD-1 ``hourly_count_anomalies``: seasonal baseline per hour-of-day,
  z-score each (day, hour) cell against its hour's cross-day
  mean/stddev — the classic "is 3am today unusually busy for 3am"
  check the reference's heatmap visualizes but never computes.
- AD-2 ``brute_force_ips``: per-IP sliding-window failed-auth burst
  detector (batch twin of ``streaming_brute_force_detector``).
- AD-3 ``order_price_outliers``: robust MAD outlier gate per customer
  segment — median/MAD instead of mean/stddev so the detector itself
  isn't skewed by the outliers it hunts.
- AD-4 ``event_type_drift``: two-sample chi-square distribution-drift
  report (``chi2_drift_report`` is the shared tail the ST-12
  streaming twin reuses).
- AD-5 ``ssh_incident_report``: the composed post-alert drill-down —
  flagged burst IPs joined with their behavioral profile.

Scale notes: every detector aggregates the fact table down to a tiny keyed
summary (720 day-hour cells, one row per IP, one row per segment)
before any window/join math, so the second-stage statistics never see
raw-event cardinality. Float determinism follows the registry
conventions: variance/z-score arithmetic is written with an explicit
operation order mirrored in the DuckDB oracles, over exact integer
sums (AD-1) or exact percentiles of raw doubles (AD-3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bigdata_logs_spark.operators.parse import FAILED_AUTH_EVENTS as FAIL_EVENTS

# MAD -> sigma-equivalent scale for normal data, times the usual 3-sigma
# gate. Written as one literal so Spark and the oracle parse the same
# double.
MAD_GATE = 4.4478


def hourly_count_anomalies(events: DataFrame, sigma: float = 3.0) -> DataFrame:
    """AD-1: z-score each (date, hour) event-count cell against the
    cross-day baseline for that hour-of-day.

    Two stages, both tiny after the first agg: (1) count events per
    (date, hour) — the only pass over the fact table, a single
    map-side-combinable groupBy; (2) window over the hour-of-day
    partition (24 groups x n_days rows) computing mean/variance from
    exact integer sums (n, sum, sum-of-squares), so the baseline is
    order-independent and hash-stable across engines.

    Variance uses the textbook (sumsq - s*s/n)/(n-1) form with the
    exact operation order mirrored in the oracle. Cells with a
    degenerate baseline (var <= 0 or a single day) get NULL z and are
    never flagged.

    The baseline sums stay in BIGINT for cross-engine exactness; s*s
    overflows 63 bits only past ~3e9 events per (hour-of-day) slice —
    beyond that scale cast ``s``/``ss`` to double before the variance
    arithmetic (the n is then large enough that float error is
    irrelevant to a 3-sigma gate).
    """
    per_cell = events.groupBy(
        F.date_format("ts", "yyyy-MM-dd").alias("date"),
        F.hour("ts").alias("hour"),
    ).agg(F.count(F.lit(1)).alias("n"))

    w = Window.partitionBy("hour")
    stats = (
        per_cell.withColumn("days", F.count(F.lit(1)).over(w))
        .withColumn("s", F.sum("n").over(w))
        .withColumn("ss", F.sum(F.col("n") * F.col("n")).over(w))
    )
    mean = F.col("s") / F.col("days")
    var = (F.col("ss") - F.col("s") * F.col("s") / F.col("days")) / (
        F.col("days") - 1
    )
    z = F.when(
        (F.col("days") > 1) & (var > 0.0),
        F.round((F.col("n") - mean) / F.sqrt(var), 6),
    )
    return (
        stats.withColumn("zscore", z)
        .withColumn(
            "is_anomaly", F.coalesce(F.col("zscore") > F.lit(sigma), F.lit(False))
        )
        .select("date", "hour", "n", F.round(mean, 6).alias("hour_mean"), "zscore", "is_anomaly")
        .orderBy("date", "hour")
    )


def brute_force_ips(
    parsed_with_ts: DataFrame,
    window_s: int = 600,
    threshold: int = 4,
) -> DataFrame:
    """AD-2: per-IP sliding-window burst detector over failed-auth
    events — batch twin of the streaming detector
    (``streaming/ingest.py`` ST-2), same semantics the reference's
    suspicious-score formula gestures at (``stats_dashboard.py:119``)
    made precise: an IP is brute-forcing if any ``window_s``-second
    trailing window holds >= ``threshold`` failures.

    Shape for scale: filter to failures first (small fraction), then a
    rangeBetween window keyed by (ip, epoch) — state per IP is the
    trailing window only, and the final per-IP agg collapses to one
    row per IP. No self-join, no explode.
    """
    fails = parsed_with_ts.filter(
        F.col("event").isin(*FAIL_EVENTS)
        & F.col("ip").isNotNull()
        & F.col("ts").isNotNull()
    ).withColumn("epoch", F.unix_timestamp("ts"))

    w = (
        Window.partitionBy("ip")
        .orderBy("epoch")
        .rangeBetween(-(window_s - 1), 0)
    )
    bursts = fails.withColumn("burst", F.count(F.lit(1)).over(w))
    return (
        bursts.groupBy("ip")
        .agg(
            F.count(F.lit(1)).alias("n_failures"),
            F.max("burst").alias("max_burst"),
            # Rendered as a wall-clock string, not an epoch: the input
            # is TIMESTAMP_NTZ, and an absolute epoch would inherit
            # whatever session timezone the host harness configured.
            F.date_format(
                F.min(F.when(F.col("burst") >= threshold, F.col("ts"))),
                "yyyy-MM-dd HH:mm:ss",
            ).alias("first_burst_at"),
        )
        .withColumn("is_brute_force", F.col("max_burst") >= threshold)
        .orderBy(F.desc("max_burst"), F.desc("n_failures"), F.asc("ip"))
    )


def event_type_drift(events: DataFrame, split_date: str = "2024-01-16") -> DataFrame:
    """AD-4: two-sample distribution-drift report over ``event_type``
    — the dataset-drift monitor a training-data pipeline runs between
    ingestion batches (and the formal version of "does this week look
    like last week", which the reference's per-day chart leaves to the
    eye, ``src/stats_dashboard.py:76-91``).

    Splits the table at ``split_date`` and computes, per type, the
    chi-square homogeneity contribution
    (a - e_a)^2 / e_a + (b - e_b)^2 / e_b where e_* are the expected
    counts under the no-drift hypothesis. The total over rows is the
    chi-square statistic with (k-1) dof.

    Scale shape: ONE map-side-combinable groupBy over the fact table
    (conditional sums), then arithmetic against a single broadcast
    totals row — the k-row contingency table never re-scans the
    corpus. All inputs to the float math are exact integer counts and
    the operation order is mirrored by the oracle.
    """
    # Date-string comparison, not a timestamp literal: the input is
    # TIMESTAMP_NTZ and a LTZ literal comparison would pull in the
    # session timezone of whatever harness is driving.
    is_b = F.date_format("ts", "yyyy-MM-dd") >= F.lit(split_date)
    per_type = events.groupBy("event_type").agg(
        F.sum(F.when(~is_b, 1).otherwise(0)).alias("n_first"),
        F.sum(F.when(is_b, 1).otherwise(0)).alias("n_second"),
    )
    return chi2_drift_report(per_type, key_col="event_type")


def chi2_drift_report(contingency: DataFrame, key_col: str) -> DataFrame:
    """Shared chi-square tail of the drift monitors: takes a k-row
    contingency table (key, n_first, n_second) — however produced
    (batch agg for AD-4, streaming complete-mode agg for ST-12) — and
    appends shares and per-key chi-square contributions.

    Totals come from an unpartitioned window over the ALREADY
    AGGREGATED k-row table, not a second pass over the fact data —
    one fact-table scan total. The single-partition window is safe:
    it only ever sees k rows.
    """
    w = Window.partitionBy()
    with_tot = contingency.withColumn(
        "tot_a", F.sum("n_first").over(w)
    ).withColumn("tot_b", F.sum("n_second").over(w))
    a, b = F.col("n_first"), F.col("n_second")
    ta, tb = F.col("tot_a"), F.col("tot_b")
    e_a = (ta * (a + b)) / (ta + tb)
    e_b = (tb * (a + b)) / (ta + tb)
    # Per-cell zero-expected guard: a key with n_first = n_second = 0
    # has expected count 0 on both sides, and a zero-expected cell
    # contributes 0 to the statistic (the 0/0 limit), not NULL/NaN.
    # Unreachable from the groupBy-fed monitors (a grouped key always
    # has >=1 observation) but this helper is public API.
    chi2 = (
        F.when(e_a > 0, (a - e_a) * (a - e_a) / e_a).otherwise(F.lit(0.0))
        + F.when(e_b > 0, (b - e_b) * (b - e_b) / e_b).otherwise(F.lit(0.0))
    )
    # Degenerate-split guard: with an empty half there is no drift
    # question to ask — emit NULL rather than the engine-dependent
    # 0/0 artifact (Spark NaN vs DuckDB inf); mirrored in the oracle.
    return (
        with_tot
        .select(
            key_col,
            "n_first",
            "n_second",
            F.when(ta > 0, F.round(a / ta, 6)).alias("share_first"),
            F.when(tb > 0, F.round(b / tb, 6)).alias("share_second"),
            F.when((ta > 0) & (tb > 0), F.round(chi2, 6)).alias("chi2_contrib"),
        )
        .orderBy(key_col)
    )


def ssh_incident_report(
    parsed_with_ts: DataFrame,
    window_s: int = 600,
    threshold: int = 4,
) -> DataFrame:
    """AD-5: the composed security-investigation flagship — what an
    analyst actually opens after an alert. One lazy plan joins the
    burst detector's flagged IPs with the per-IP behavioral profile
    (event volume, distinct users/ports probed, most-attempted user)
    into a ranked incident table: the reference's per-IP drill-down
    (``src/stats_dashboard.py:188-240``) with the anomaly call made
    explicit instead of left to the viewer.

    Scale shape: the flagged-IP set is alert-sized, so it BROADCASTS
    into the behavior aggregation's output; the behavior profile
    itself is one groupBy over the parse (map-side combinable) plus
    the ssh_users_per_ip-style windowed top-1 — nothing outside the
    (ip,) and (ip, user) keys ever shuffles.
    """
    from bigdata_logs_spark.caching import tracked_cache

    # Three branches (burst detector, behavior profile, top user) all
    # consume the parse; cache the PRUNED projection once instead of
    # re-running the extractor chain per branch. tracked_cache so
    # sweep drivers release the pin between queries.
    parsed_slim = tracked_cache(
        parsed_with_ts.select("ip", "user", "port", "event", "ts")
    )
    incidents = brute_force_ips(parsed_slim, window_s, threshold).filter(
        F.col("is_brute_force")
    )
    by_ip = parsed_slim.filter(F.col("ip").isNotNull())
    behavior = by_ip.groupBy("ip").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user").alias("distinct_users"),
        F.countDistinct("port").alias("distinct_ports"),
    )
    user_counts = (
        by_ip.filter(F.col("user").isNotNull())
        .groupBy("ip", "user")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    top_user = (
        user_counts.withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("ip").orderBy(F.desc("n"), F.asc("user"))
            ),
        )
        .filter(F.col("rnk") == 1)
        .select("ip", F.col("user").alias("top_user"))
    )
    return (
        F.broadcast(incidents.drop("is_brute_force"))
        .join(behavior, "ip")
        .join(top_user, "ip", "left")
        .select(
            "ip",
            "n_failures",
            "max_burst",
            "first_burst_at",
            "n_events",
            "distinct_users",
            "distinct_ports",
            "top_user",
        )
        .orderBy(F.desc("max_burst"), F.desc("n_failures"), F.asc("ip"))
    )


def order_price_outliers(orders: DataFrame, customer: DataFrame) -> DataFrame:
    """AD-3: robust per-segment price-outlier gate. Median and MAD
    (median absolute deviation) per customer market segment; an order
    is an outlier when |price - median| > MAD_GATE * mad.

    Median/MAD need two exact-percentile passes; both run on the
    (segment, price) projection — two narrow shuffles on a 5-value
    key. The customer dim joins broadcast (it is orders-side small by
    TPC-H construction). Exact ``percentile`` here; at 100 TB swap
    for ``approx_percentile`` with the same call shape.
    """
    from bigdata_logs_spark.caching import tracked_cache

    # Three consumers (median, MAD, final gate) re-derive this 2-column
    # projection; cache it once — Spark does not dedup common subtrees,
    # so uncached this would scan-and-join the fact table three times.
    seg_price = tracked_cache(
        orders.join(
            F.broadcast(customer.select("c_custkey", "c_mktsegment")),
            orders.o_custkey == customer.c_custkey,
        ).select(
            F.col("c_mktsegment").alias("segment"),
            F.col("o_totalprice").alias("price"),
        )
    )

    med = seg_price.groupBy("segment").agg(
        F.expr("percentile(price, 0.5)").alias("med")
    )
    with_med = seg_price.join(F.broadcast(med), "segment").withColumn(
        "absdev", F.abs(F.col("price") - F.col("med"))
    )
    mad = with_med.groupBy("segment").agg(
        F.expr("percentile(absdev, 0.5)").alias("mad")
    )
    return (
        with_med.join(F.broadcast(mad), "segment")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.min("med"), 6).alias("med_price"),
            F.round(F.min("mad"), 6).alias("mad_price"),
            F.sum(
                F.when(
                    F.col("absdev") > F.lit(MAD_GATE) * F.col("mad"), F.lit(1)
                ).otherwise(F.lit(0))
            ).alias("n_outliers"),
        )
        .orderBy("segment")
    )


def rare_transitions(
    events: DataFrame, rare_threshold: float = 0.05
) -> DataFrame:
    """AD-6: event-type Markov transition profile with rare-edge
    flags — the batch calibration table behind sequence-anomaly
    detection (the streaming ST-9 ``event_transitions_state`` fold
    counts per-IP transitions live; this is the corpus-wide model
    that says which of those transitions are WORTH alerting on).
    Security reading: a (login -> delete_all) edge with probability
    0.0004 is an incident lead; (view -> click) at 0.2 is noise.

    Semantics: per-user event streams ordered by (ts, event_id) —
    the id tiebreak keeps simultaneous events deterministically
    ordered across engines — yield (prev_type, next_type) bigrams;
    the transition probability conditions on prev_type:
    P(next|prev) = n(prev,next) / n(prev,*).

    Scale shape: ONE window pass over (user_id) partitions (the same
    shuffle key the sessionizer uses) produces the bigrams; they
    collapse immediately into a k x k count table (k = event-type
    cardinality, tiny), and the conditional total is a window over
    the ALREADY AGGREGATED k^2 rows — the fact table is scanned
    once and nothing bigger than (user_id)-keyed rows shuffles.
    Probability is exact-integer n/total with ONE division, so the
    double is bit-identical across engines.
    """
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    bigrams = (
        events.withColumn("next_type", F.lead("event_type").over(w))
        .filter(F.col("next_type").isNotNull())
        .groupBy(
            F.col("event_type").alias("prev_type"),
            F.col("next_type"),
        )
        .agg(F.count(F.lit(1)).alias("n"))
    )
    per_prev = Window.partitionBy("prev_type")
    return (
        bigrams.withColumn("prev_total", F.sum("n").over(per_prev))
        .select(
            "prev_type",
            "next_type",
            "n",
            F.round(F.col("n") / F.col("prev_total"), 6).alias("prob"),
            (F.col("n") / F.col("prev_total") < F.lit(rare_threshold)).alias(
                "is_rare"
            ),
        )
        .orderBy("prev_type", "next_type")
    )


def ewma_daily_counts(events: DataFrame) -> DataFrame:
    """AD-7: exponentially-weighted moving average of daily event
    counts per type (alpha = 1/2) — the adaptive baseline rate
    monitors track (W-5's trailing mean forgets nothing inside its
    window and everything outside it; EWMA decays smoothly and needs
    O(1) state, which is why streaming monitors use it).

    Cross-engine exactness without DECIMAL tricks: with alpha = 1/2
    every weight is a power of two, so each term n_j * 2^-(k-j) is an
    EXACT double (integer mantissa, shifted exponent), and every
    partial sum stays exactly representable while
    log2(max daily count) + horizon <= 53 bits — at 2^20 events/day
    that allows a 33-step horizon; the 30-row fixture is inside it,
    and at larger horizons the tail weights vanish below any
    monitoring threshold anyway. The recurrence y = y/2 + n is a
    LEFT FOLD over the date-ordered prefix, identical in Spark's
    ``aggregate`` and DuckDB's ``list_reduce`` (DuckDB seeds with the
    first element; Spark's zero-seed produces the same sequence since
    f(0, n1) = n1).

    Scale shape: the fact table collapses to (type, date) cells in
    one map-side-combinable agg; the collect_list window runs over
    ~30 rows per type. The per-cell array is prefix-sized — bounded
    by the day horizon, not the corpus.
    """
    cells = events.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("date")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("date")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    prefix = cells.withColumn("prefix", F.collect_list("n").over(w))
    ewma = F.expr(
        """
        aggregate(prefix, CAST(0.0 AS DOUBLE),
                  (acc, v) -> acc / CAST(2.0 AS DOUBLE) + v)
        """
    )
    return (
        prefix.select(
            "event_type", "date", "n", F.round(ewma, 6).alias("ewma")
        )
        .orderBy("event_type", "date")
    )


def dow_hour_anomalies(events: DataFrame) -> DataFrame:
    """AD-8: two-factor seasonal baseline — each (date, hour) count
    z-scored against the history of its (day-of-week, hour-of-day)
    cell, so Monday 09:00 is compared with past Mondays at 09:00
    rather than with every day's 09:00 (AD-1). This is the baseline
    that stops weekday/weekend rhythm from masquerading as anomaly —
    the first upgrade a production on-call asks for after AD-1 pages
    them on a quiet Sunday morning.

    Day-of-week is computed arithmetically ((days since epoch + 3)
    mod 7, Monday=0) — engine date-part functions disagree on Sunday's
    index (Spark 1-based Sunday, DuckDB 0-based Sunday), so no date
    part is used. Same integer co-moment exactness as AD-1; the fact
    table collapses to (date, hour) cells before any window math.
    """
    from pyspark.sql import Window

    date = F.date_format("ts", "yyyy-MM-dd")
    days_since_epoch = F.datediff(
        F.to_date("ts"), F.to_date(F.lit("1970-01-01"))
    )
    dow = ((days_since_epoch + 3) % 7).cast("int")
    cells = events.groupBy(
        date.alias("date"), dow.alias("dow"), F.hour("ts").alias("hour")
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("dow", "hour")
    stats = (
        cells.withColumn("days", F.count(F.lit(1)).over(w))
        .withColumn("s", F.sum("n").over(w))
        .withColumn("ss", F.sum(F.col("n") * F.col("n")).over(w))
    )
    days, s_, ss = F.col("days"), F.col("s"), F.col("ss")
    var = (ss - s_ * s_ / days) / (days - 1)
    z = F.when(
        (days > 1) & (var > 0.0), F.round((F.col("n") - s_ / days) / F.sqrt(var), 6)
    )
    return stats.select(
        "date",
        "dow",
        "hour",
        "n",
        F.round(s_ / days, 6).alias("cell_mean"),
        z.alias("zscore"),
        F.coalesce(z > 3.0, F.lit(False)).alias("is_anomaly"),
    ).orderBy("date", "hour")


def cusum_changepoints(events: DataFrame) -> DataFrame:
    """AD-9: CUSUM change-point detection (Page 1954) over the daily
    count series of each event type — the sequential-detection
    complement of the pointwise z-score (AD-1), the smoothed level
    (AD-7) and the seasonal baseline (AD-8): a SUSTAINED small shift
    that never trips a pointwise threshold accumulates in the CUSUM
    and crosses it.

    Exactness: the classic recursion S_t = max(0, S_{t-1} + d_t) is
    not a window function, but it has the closed form
    ``S_t = P_t − min(0, min_{j≤t} P_j)`` with P the running sum of
    deviations — two ordered window passes. Deviations are kept
    integer by scaling: d_t = n_days·x_t − total (so "mean" is never
    divided), making every CUSUM value an exact BIGINT; the flag
    threshold h = total (one day-mean of accumulated excess, in the
    same scaled units) compares integers.

    Shape: the corpus collapses to (type, date) cells first; both
    window passes share one partitioning by event_type. 100 TB: the
    cell table is bounded by types × days — trivially small.
    """
    daily = events.groupBy(
        "event_type", F.date_format("ts", "yyyy-MM-dd").alias("date")
    ).agg(F.count(F.lit(1)).alias("n"))
    per_type = Window.partitionBy("event_type")
    sized = daily.withColumn(
        "n_days", F.count(F.lit(1)).over(per_type)
    ).withColumn("total", F.sum("n").over(per_type))
    d = F.col("n_days") * F.col("n") - F.col("total")
    w_ord = (
        Window.partitionBy("event_type")
        .orderBy("date")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = sized.withColumn("p", F.sum(d).over(w_ord))
    cum = cum.withColumn(
        "cusum_pos", F.col("p") - F.least(F.lit(0), F.min("p").over(w_ord))
    ).withColumn(
        "cusum_neg", F.greatest(F.lit(0), F.max("p").over(w_ord)) - F.col("p")
    )
    flagged = (F.col("cusum_pos") > F.col("total")) | (
        F.col("cusum_neg") > F.col("total")
    )
    return cum.select(
        "event_type",
        "date",
        "n",
        "cusum_pos",
        "cusum_neg",
        flagged.alias("flagged"),
    ).orderBy("event_type", "date")


def benford_first_digit(orders: DataFrame) -> DataFrame:
    """AD-10: Benford first-digit conformance (Newcomb 1881 / Benford
    1938) — the leading-digit distribution of order totals against
    log10(1 + 1/d), with per-digit chi-square contributions; the
    classic fabricated-amounts screen (invented numbers are uniform-
    ish in the lead digit, organic multiplicative amounts are not).

    Exactness: amounts become exact DECIMAL cents (BIGINT), the lead
    digit is the first character of the integer's decimal string
    (never float log10 of the value), expected probabilities are
    ln-ratio chains (ln is bit-identical cross-engine), and chi-square
    terms are short fixed-order double chains over exact integers.

    Scale shape: one map-side-combinable 9-group aggregation over a
    narrow projection; everything after runs on 9 rows.
    """
    cents = (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
    digit = F.substring(F.col("cents").cast("string"), 1, 1).cast("int")
    obs = (
        orders.select(cents.alias("cents"))
        .where(F.col("cents") > 0)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n_obs"))
    )
    total = obs.agg(F.sum("n_obs").alias("n_total"))
    p = F.log((F.col("digit") + 1) / F.col("digit")) / F.log(F.lit(10.0))
    expected = F.col("n_total") * p
    chi2 = (
        (F.col("n_obs") - expected)
        * (F.col("n_obs") - expected)
        / expected
    )
    return (
        obs.crossJoin(F.broadcast(total))
        .select(
            "digit",
            "n_obs",
            F.round(F.col("n_obs") / F.col("n_total"), 6).alias("obs_p"),
            F.round(p, 6).alias("benford_p"),
            F.round(chi2, 4).alias("chi2_term"),
        )
        .orderBy("digit")
    )


def two_proportion_drift(events: DataFrame) -> DataFrame:
    """AD-11: two-proportion z-test of traffic-mix drift — the period
    splits at its midpoint day and, per event type, the share of all
    traffic that type carries in each half is compared with the
    pooled two-proportion z statistic

        z = (p1 - p2) / sqrt(p*(1-p)*(1/N1 + 1/N2)),  p = pooled.

    AD-4's chi-square says THAT the mix moved; the per-type z says
    WHICH types moved, in which direction, and whether the move
    clears a significance bar (|z| > 1.96 at alpha = 0.05).

    Exactness: all inputs are exact BIGINT counts; every float step
    (four divisions, one sqrt, products) is a single IEEE operation
    on deterministic operands, so both engines produce bit-identical
    doubles (sqrt is correctly rounded per IEEE 754). The midpoint is
    integer epoch-day arithmetic.

    Scale shape: ONE combinable (type, half) count after a broadcast
    single-row min/max join; everything downstream runs on 2k rows."""
    day = F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
    keyed = events.select("event_type", day.alias("d"))
    # half 1 iff d <= floor((min+max)/2), written 2d <= min+max so the
    # comparison stays in integers with no division at all.
    bounds = keyed.agg((F.min("d") + F.max("d")).alias("mid2"))
    halved = keyed.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.when(F.col("d") * 2 <= F.col("mid2"), F.lit(1))
        .otherwise(F.lit(2))
        .alias("half"),
    )
    counts = halved.groupBy("event_type", "half").agg(
        F.count(F.lit(1)).alias("n")
    )
    totals = counts.groupBy("half").agg(F.sum("n").alias("tot"))
    n1 = F.coalesce(F.max(F.when(F.col("half") == 1, F.col("n"))), F.lit(0))
    n2 = F.coalesce(F.max(F.when(F.col("half") == 2, F.col("n"))), F.lit(0))
    t1 = F.max(F.when(F.col("half") == 1, F.col("tot")))
    t2 = F.max(F.when(F.col("half") == 2, F.col("tot")))
    wide = (
        counts.join(F.broadcast(totals), "half")
        .groupBy("event_type")
        .agg(n1.alias("n1"), n2.alias("n2"), t1.alias("t1"), t2.alias("t2"))
    )
    p1 = F.col("n1").cast("double") / F.col("t1")
    p2 = F.col("n2").cast("double") / F.col("t2")
    pp = (F.col("n1") + F.col("n2")).cast("double") / (
        F.col("t1") + F.col("t2")
    )
    se = F.sqrt(
        pp
        * (F.lit(1.0) - pp)
        * (
            F.lit(1.0) / F.col("t1").cast("double")
            + F.lit(1.0) / F.col("t2").cast("double")
        )
    )
    z = (p1 - p2) / se
    return wide.select(
        "event_type",
        "n1",
        "n2",
        F.round(p1, 6).alias("p1"),
        F.round(p2, 6).alias("p2"),
        F.round(z, 4).alias("z"),
        (F.abs(z) > 1.96).alias("significant"),
    ).orderBy("event_type")


def ks_drift(events: DataFrame) -> DataFrame:
    """AD-12: two-sample Kolmogorov-Smirnov drift test of the VALUE
    distribution per event type between the first and second half of
    the period — D = max_v |F1(v) - F2(v)| with the asymptotic
    alpha = 0.05 significance bar D > 1.358 * sqrt((n1+n2)/(n1*n2))
    (Smirnov 1948). AD-4's chi-square and AD-11's z test watch the
    traffic MIX; the KS statistic watches the value DISTRIBUTION's
    whole shape — a price migration that keeps per-type counts flat
    is invisible to both and lights this up.

    Exactness: the midpoint split is integer epoch-day arithmetic
    (2d <= min+max, no division); values become integer cents; the
    sup-distance numerator is computed CROSS-MULTIPLIED —
    max |cum1*n2 - cum2*n1| in DECIMAL(38,0), exact in any order —
    so the only float steps are the final division and the
    critical-value sqrt/product, each a single mirrored IEEE op.

    Scale shape: the corpus collapses to one combinable
    (type, cents, half) count; the cumulative windows run over the
    DISTINCT-cent table (bounded by price granularity, not event
    cardinality — the same reason AGG-2's exact percentiles survive);
    types that land entirely in one half report NULL statistics
    instead of dividing by zero (the chi2_drift_report lesson)."""
    day = F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    keyed = events.select(
        "event_type", day.alias("d"), cents.alias("cents")
    )
    bounds = keyed.agg((F.min("d") + F.max("d")).alias("mid2"))
    halved = keyed.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        "cents",
        F.when(F.col("d") * 2 <= F.col("mid2"), F.lit(1))
        .otherwise(F.lit(2))
        .alias("half"),
    )
    cellc = halved.groupBy("event_type", "cents").agg(
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0)).alias("c1"),
        F.sum(F.when(F.col("half") == 2, 1).otherwise(0)).alias("c2"),
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("event_type")
    cum = cellc.select(
        "event_type",
        F.sum("c1").over(w_cum).alias("cum1"),
        F.sum("c2").over(w_cum).alias("cum2"),
        F.sum("c1").over(w_all).alias("n1"),
        F.sum("c2").over(w_all).alias("n2"),
    )
    diff = F.abs(
        F.col("cum1").cast("decimal(38,0)") * F.col("n2")
        - F.col("cum2").cast("decimal(38,0)") * F.col("n1")
    )
    agg = cum.groupBy("event_type").agg(
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        F.max(diff).alias("dnum"),
    )
    both = (F.col("n1") > 0) & (F.col("n2") > 0)
    ks = F.col("dnum").cast("double") / (
        F.col("n1").cast("double") * F.col("n2").cast("double")
    )
    crit = F.lit(1.358) * F.sqrt(
        (F.col("n1") + F.col("n2")).cast("double")
        / (F.col("n1").cast("double") * F.col("n2").cast("double"))
    )
    return agg.select(
        "event_type",
        "n1",
        "n2",
        F.when(both, F.round(ks, 6)).alias("ks_d"),
        F.when(both, F.round(crit, 6)).alias("ks_crit"),
        F.when(both, ks > crit).alias("significant"),
    ).orderBy("event_type")


def structural_breaks(events: DataFrame) -> DataFrame:
    """AD-13: per-type structural break — the single split day of the
    zero-filled daily count series that maximizes the between-segment
    SSE reduction (binary segmentation depth 1; Scott & Knott 1974
    lineage). AD-9's CUSUM flags WHEN cumulative deviation from the
    global mean crosses a decision band; the binseg break is the
    OPTIMAL single partition of the series with its variance-
    explained gain — the "this type changed regime on day X, level
    mu1 -> mu2" statement an incident writeup wants.

    Exactness: the series is integer daily counts over the global
    day range zero-filled through an explicit calendar (missing days
    ARE data here); cumulative count/square sums are exact BIGINT
    window reductions; each candidate's gain is
    SSE_tot - SSE_left - SSE_right where every SSE spends exactly one
    IEEE division (S^2/n) on exact integers — both engines evaluate
    the identical expression tree, so the argmax row (tie-broken by
    earliest day) and the rounded outputs agree bit-for-bit.

    Scale shape: one combinable (type, day) count collapses the
    corpus; everything after runs on types x days rows (a few
    thousand at any horizon), so the per-type windows are tiny by
    construction — day-granular series never inherit event
    cardinality."""
    day = F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
    base = (
        events.select("event_type", day.alias("d"))
        .groupBy("event_type", "d")
        .agg(F.count(F.lit(1)).alias("x"))
    )
    rng = base.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    cal = (
        base.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(rng))
        .select(
            "event_type", F.explode(F.sequence("lo", "hi")).alias("d")
        )
    )
    series = cal.join(base, ["event_type", "d"], "left").select(
        "event_type", "d", F.coalesce("x", F.lit(0)).alias("x")
    )
    w_cum = (
        Window.partitionBy("event_type")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("event_type")
    cum = series.select(
        "event_type",
        "d",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("d"))
        .alias("s"),
        F.sum("x").over(w_cum).alias("cs"),
        F.sum(F.col("x") * F.col("x")).over(w_cum).alias("css"),
        F.sum("x").over(w_all).alias("st"),
        F.sum(F.col("x") * F.col("x")).over(w_all).alias("qt"),
        F.count(F.lit(1)).over(w_all).alias("n"),
    )
    cand = cum.where(F.col("s") < F.col("n"))
    sse_l = F.col("css").cast("double") - (
        F.col("cs").cast("double") * F.col("cs").cast("double")
    ) / F.col("s").cast("double")
    rs = F.col("st") - F.col("cs")
    rn_ = F.col("n") - F.col("s")
    sse_r = (F.col("qt") - F.col("css")).cast("double") - (
        rs.cast("double") * rs.cast("double")
    ) / rn_.cast("double")
    sse_t = F.col("qt").cast("double") - (
        F.col("st").cast("double") * F.col("st").cast("double")
    ) / F.col("n").cast("double")
    gained = cand.withColumn("gain", sse_t - sse_l - sse_r)
    w_best = Window.partitionBy("event_type").orderBy(
        F.desc("gain"), F.asc("d")
    )
    return (
        gained.withColumn("rk", F.row_number().over(w_best))
        .where(F.col("rk") == 1)
        .select(
            "event_type",
            F.date_format(
                F.date_add(F.lit("1970-01-01").cast("date"), F.col("d")),
                "yyyy-MM-dd",
            ).alias("break_date"),
            F.col("n").alias("n_days"),
            F.round("gain", 4).alias("gain"),
            F.round(
                F.col("cs").cast("double") / F.col("s").cast("double"), 4
            ).alias("mean_before"),
            F.round(rs.cast("double") / rn_.cast("double"), 4).alias(
                "mean_after"
            ),
        )
        .orderBy("event_type")
    )


def slo_burn_alerts(
    events: DataFrame, slo: float = 0.75, fast_x: float = 2.0, slow_x: float = 1.0
) -> DataFrame:
    """OPS-3: multi-window error-budget burn-rate alerts (the SRE
    Workbook ch.5 multiwindow policy, scaled to daily granularity) —
    per day, the 'error' share of events against a ``slo`` success
    target, expressed as burn = error_ratio / (1 - slo): burn 1.0
    spends the budget exactly at period pace, burn 2.0 exhausts it in
    half the period. The fast alert (1-day burn >= ``fast_x``) catches
    cliffs; the slow alert (7-day rolling burn >= ``slow_x``) catches
    slow leaks the daily number hides — the pairing exists because
    either window alone over- or under-pages (production uses
    99.9%/14.4x/6x at 5m-3d windows; the knobs here are parameters).
    AD-1/AD-9 flag statistically unusual days; the burn rate flags
    BUDGET-relevant days — a perfectly 'usual' 30% error plateau
    never trips a z-score but eats the budget.

    Exactness: daily and rolling numerators/denominators are exact
    BIGINT sums over the zero-filled calendar (a silent day is budget
    GOOD news, so missing days are data); each burn spends one
    division and one multiply on mirrored operand order; empty
    windows report NULL rather than dividing by zero.

    Scale shape: one combinable per-day (total, error) count collapses
    the corpus; rolling sums window the day-granular calendar."""
    day = F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
    base = events.select(
        day.alias("d"),
        F.when(F.col("event_type") == "error", F.lit(1))
        .otherwise(F.lit(0))
        .alias("e"),
    ).groupBy("d").agg(
        F.count(F.lit(1)).alias("n"), F.sum("e").alias("ne")
    )
    rng = base.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    cal = rng.select(F.explode(F.sequence("lo", "hi")).alias("d"))
    series = cal.join(base, ["d"], "left").select(
        "d",
        F.coalesce("n", F.lit(0)).alias("n"),
        F.coalesce("ne", F.lit(0)).alias("ne"),
    )
    w7 = Window.orderBy("d").rowsBetween(-6, 0)
    budget = 1.0 - slo
    roll = series.select(
        "d",
        "n",
        "ne",
        F.sum("n").over(w7).alias("n7"),
        F.sum("ne").over(w7).alias("ne7"),
    )
    burn1 = F.col("ne").cast("double") / F.col("n").cast("double") / F.lit(
        budget
    )
    burn7 = F.col("ne7").cast("double") / F.col("n7").cast("double") / F.lit(
        budget
    )
    return roll.select(
        F.date_format(
            F.date_add(F.lit("1970-01-01").cast("date"), F.col("d").cast("int")),
            "yyyy-MM-dd",
        ).alias("day"),
        "n",
        "ne",
        F.when(F.col("n") > 0, F.round(burn1, 4)).alias("burn_1d"),
        F.when(F.col("n7") > 0, F.round(burn7, 4)).alias("burn_7d"),
        F.when(F.col("n") > 0, burn1 >= F.lit(fast_x))
        .otherwise(F.lit(False))
        .alias("page_fast"),
        F.when(F.col("n7") > 0, burn7 >= F.lit(slow_x))
        .otherwise(F.lit(False))
        .alias("page_slow"),
    ).orderBy("day")


def seasonal_adjusted_anomalies(
    events: DataFrame, z_threshold: float = 1.5
) -> DataFrame:
    """AD-14: seasonally-adjusted daily anomalies — W-18's additive
    decomposition (centered 7-day MA trend, per-dow seasonal offsets)
    applied as a PRE-WHITENING step, then a z-score on the residuals;
    days where |z| exceeds ``z_threshold`` report (default 1.5 — a
    watch-list bar that the fairly-uniform synthetic corpus actually
    crosses, keeping the report path certified end-to-end; production
    pages at 2.5-3). AD-1 z-scores raw
    hourly counts, so every Saturday looks anomalous on a weekday
    baseline and a Saturday INCIDENT hides inside the weekend bump —
    removing trend and season first is the standard fix (the
    decompose-then-test half of seasonal-hybrid ESD, with the plain
    z-test kept because t-distribution critical tables are not
    cross-engine-certifiable).

    Exactness: W-18's quantization verbatim (detrended micro =
    round((7x - S7)*1e6/7) BIGINT; per-dow seasonal mean = one
    division re-quantized to BIGINT micros), so residuals are exact
    integers; the residual mean/variance come from exact integer
    co-moments (n*Srr - Sr*Sr, accumulated in DECIMAL(38,0) — squared
    micro-residuals outgrow BIGINT at production day volumes), and
    each z spends its floats in mirrored operand order.

    Scale shape: identical to W-18 — one combinable per-day count,
    day-granular windows, 7-row seasonal table joined back by dow."""
    day = F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
    base = events.select(day.alias("d")).groupBy("d").agg(
        F.count(F.lit(1)).alias("x")
    )
    rng = base.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    cal = rng.select(F.explode(F.sequence("lo", "hi")).alias("d"))
    series = cal.join(base, ["d"], "left").select(
        "d", F.coalesce("x", F.lit(0)).alias("x")
    )
    w7 = Window.orderBy("d").rowsBetween(-3, 3)
    ma = series.select(
        "d",
        "x",
        F.sum("x").over(w7).alias("s7"),
        F.count(F.lit(1)).over(w7).alias("n7"),
    ).where(F.col("n7") == 7)
    dm = F.round(
        ((F.col("x") * 7 - F.col("s7")) * F.lit(1000000)).cast("double")
        / F.lit(7.0)
    ).cast("long")
    detr = ma.select(
        "d", "x", ((F.col("d") + 4) % 7).alias("dow"), dm.alias("dm")
    )
    seas = detr.groupBy("dow").agg(
        F.round(F.sum("dm").cast("double") / F.count(F.lit(1)))
        .cast("long")
        .alias("s_micro")
    )
    resid = detr.join(F.broadcast(seas), ["dow"]).select(
        "d", "x", (F.col("dm") - F.col("s_micro")).alias("r")
    )
    dec = "decimal(19,0)"
    m = resid.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("r").cast(dec)).alias("sr"),
        F.sum(F.col("r").cast(dec) * F.col("r").cast(dec)).alias("srr"),
    )
    scored = resid.crossJoin(F.broadcast(m))
    n = F.col("n").cast("double")
    sr = F.col("sr").cast("double")
    srr = F.col("srr").cast("double")
    var_n2 = n * srr - sr * sr  # n^2 * variance, exact-int inputs
    z = (n * F.col("r").cast("double") - sr) / F.sqrt(var_n2)
    return (
        scored.where(var_n2 > 0)
        .where(F.abs(z) > F.lit(z_threshold))
        .select(
            F.date_format(
                F.date_add(
                    F.lit("1970-01-01").cast("date"), F.col("d").cast("int")
                ),
                "yyyy-MM-dd",
            ).alias("day"),
            F.col("x").alias("n_events"),
            F.round(F.col("r").cast("double") / F.lit(1e6), 4).alias(
                "residual"
            ),
            F.round(z, 4).alias("zscore"),
        )
        .orderBy("day")
    )


def weekday_effect_anova(events: DataFrame) -> DataFrame:
    """AD-15: one-way ANOVA of the zero-filled daily count by
    day-of-week — the F statistic (between-dow variance over
    within-dow variance) and the eta-squared effect size (share of
    daily variance the weekday explains). W-18 ESTIMATES the seasonal
    offsets; this says whether they are signal or noise, and eta^2 is
    the one-number answer to "how weekly is this corpus?" that decides
    whether AD-14's seasonal adjustment is even worth running.

    Exactness: group sums/squares are exact BIGINTs over the
    day-granular calendar; SSB/SSW/SST are assembled from them with
    mirrored single divisions per group term; F and eta^2 each spend
    one more division; degenerate cases (fewer than 2 dow groups, or
    zero within-group variance) report NULL F.

    Scale shape: one combinable per-day count; a 7-row group table;
    ONE output row."""
    day = F.datediff(F.to_date("ts"), F.lit("1970-01-01").cast("date"))
    base = events.select(day.alias("d")).groupBy("d").agg(
        F.count(F.lit(1)).alias("x")
    )
    rng = base.agg(F.min("d").alias("lo"), F.max("d").alias("hi"))
    cal = rng.select(F.explode(F.sequence("lo", "hi")).alias("d"))
    series = cal.join(base, ["d"], "left").select(
        ((F.col("d") + 4) % 7).alias("dow"),
        F.coalesce("x", F.lit(0)).alias("x"),
    )
    grp = series.groupBy("dow").agg(
        F.count(F.lit(1)).alias("ng"),
        F.sum("x").alias("sg"),
        F.sum(F.col("x") * F.col("x")).alias("qg"),
    )
    # each group's sg^2/ng term quantizes to BIGINT micros BEFORE the
    # sum (a float sum across groups would be order-dependent)
    tq = F.round(
        F.col("sg").cast("double")
        * F.col("sg").cast("double")
        / F.col("ng").cast("double")
        * F.lit(1e6)
    ).cast("long")
    m = grp.agg(
        F.count(F.lit(1)).alias("k"),
        F.sum("ng").alias("n"),
        F.sum("sg").alias("s"),
        F.sum("qg").alias("q"),
        F.sum(tq).alias("sbq"),
    )
    n = F.col("n").cast("double")
    s = F.col("s").cast("double")
    q = F.col("q").cast("double")
    sb_raw = F.col("sbq").cast("double") / F.lit(1e6)
    sst = q - s * s / n
    ssb = sb_raw - s * s / n
    ssw = q - sb_raw
    k = F.col("k")
    f_stat = (ssb / (k - 1).cast("double")) / (
        ssw / (F.col("n") - k).cast("double")
    )
    return m.select(
        F.col("n").alias("n_days"),
        F.col("k").alias("k_groups"),
        F.when((k > 1) & (ssw > 0), F.round(f_stat, 4)).alias("f_stat"),
        F.when(sst > 0, F.round(ssb / sst, 4)).alias("eta_sq"),
    )
