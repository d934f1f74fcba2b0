"""Probabilistic sketch operators (SURVEY.md §2.11 SK-1/SK-2).

The engine already ships one sketch family end-to-end: HLL distinct
counts (`global_metrics_approx`, `approx_count_distinct`) with a
bounded-error pytest against the exact twin. This module adds the
other workhorse stream sketch — the Count-Min Sketch (Cormode &
Muthukrishnan, J. Algorithms 2005) — in the same calibration-report
shape as ``dedup.minhash_calibration``: build the sketch, query it for
keys whose exact counts we also compute, and report estimate vs truth
side by side, so the sketch's one-sided overestimate guarantee is
visible and oracle-checkable.

Unlike HLL (whose register layout is engine-internal, forcing a
rows-only check), this CMS is built from explicit arithmetic the
DuckDB oracle replays exactly: the row hashes are affine transforms of
a polynomial (base-31, mod 1e9+7) string hash — pure integer
arithmetic, no engine hash function — so counters, estimates, and
errors all hash-match cross-engine.

Scale shape for 100 TB: the corpus is reduced to per-key exact counts
first (one map-side-combinable groupBy — the same pass word_frequencies
makes), then the sketch is d×w = 4×128 counters REGARDLESS of key
cardinality: the d-fold explode happens on the distinct-key table, not
the corpus, and the counter table is small enough to broadcast back
for the estimate join. In a true streaming deployment the same
counters drop out of ``groupBy(row, bucket).sum(cnt)`` over micro-
batches; the batch shape here is the calibration harness.

Each sketch's register, sketch and readout code is defined once here:
the streaming folds in ``streaming.ingest`` and the registry's
streaming sketch reports call the same functions as the batch SK
operators, so every estimate has one arithmetic definition.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bigdata_logs_spark.operators.textops import with_tokens

# Affine row-hash constants: bucket_j(key) = (A[j]*h + B[j]) % P % W
# with h the polynomial string hash below. Small odd multipliers keep
# every product far inside BIGINT range in both engines.
CMS_A = (3, 5, 7, 11)
CMS_B = (17, 29, 41, 53)
CMS_P = 1_000_000_007
CMS_W = 128


def _poly_hash_expr(col: str) -> str:
    """Base-31 polynomial hash over the token's character codes,
    mod 1e9+7 — a left fold of exact integer ops, identical on any
    engine (mirrored in the oracle via list_reduce)."""
    return (
        f"aggregate(split({col}, ''), 0L, "
        f"(acc, ch) -> (acc * 31 + ascii(ch)) % {CMS_P})"
    )


def cms_cells(h: Column) -> Column:
    """The d (row, bucket) counter cells of hash ``h``, one per row:
    ``posexplode`` into columns ``row`` and ``bucket``."""
    rows = [(h * F.lit(a) + F.lit(b)) % CMS_P % CMS_W for a, b in zip(CMS_A, CMS_B)]
    return F.posexplode(F.array(*rows)).alias("row", "bucket")


def cms_heavy_hitters(docs: DataFrame, top_n: int = 20) -> DataFrame:
    """SK-1: Count-Min Sketch calibration over the token frequency
    stream — exact count vs CMS estimate for the ``top_n`` most
    frequent tokens.

    Pipeline: corpus → exact (token, cnt) counts → each distinct
    token exploded into its d=4 (row, bucket) cells (weight = exact
    cnt, so the sketch is identical to single-increment streaming) →
    counter table of ≤ 4×128 integer cells → estimate(token) =
    min over rows of counter[row][bucket_row(token)].

    Output: (token, exact_count, cms_estimate, overestimate), top_n
    by exact count desc / token asc. CMS guarantees
    ``cms_estimate >= exact_count`` (one-sided error); a pytest pins
    that invariant plus the epsilon bound.
    """
    counts = (
        with_tokens(docs)
        .select(F.explode("tokens").alias("token"))
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("exact_count"))
    )
    hashed = counts.withColumn("h", F.expr(_poly_hash_expr("token")))
    cells = hashed.select("token", "exact_count", cms_cells(F.col("h")))
    counters = cells.groupBy("row", "bucket").agg(
        F.sum("exact_count").alias("counter")
    )
    return cms_estimates(cells, counters, "token", top_n)


def cms_estimates(
    cells: DataFrame, counters: DataFrame, key: str, top_n: int
) -> DataFrame:
    """The CMS readout shared by SK-1 and ST-15: each ``key``'s
    estimate is the min over rows of its cells' counters (``cells``:
    key, exact_count, row, bucket; ``counters``: row, bucket,
    counter, small enough to broadcast). Output: (key, exact_count,
    cms_estimate, overestimate), top_n by exact count desc / key
    asc."""
    return (
        cells.join(F.broadcast(counters), ["row", "bucket"])
        .groupBy(key, "exact_count")
        .agg(F.min("counter").alias("cms_estimate"))
        .orderBy(F.desc("exact_count"), key)
        .limit(top_n)
        .select(
            key,
            "exact_count",
            "cms_estimate",
            (F.col("cms_estimate") - F.col("exact_count")).alias("overestimate"),
        )
    )


# KMV (k-minimum-values) distinct-count sketch parameters: k smallest
# 52-bit hashes per group. 13 hex chars = 52 bits keeps every hash
# exactly representable as a double in both engines.
KMV_K = 16
# (k-1) * 2^52 as the one numerator literal every engine shares (15 has
# 4 significant bits, so the product is an exactly-representable double).
KMV_NUMERATOR = (KMV_K - 1) * (1 << 52)


def kmv_hash_expr(col: str) -> str:
    """The shared 52-bit KMV hash: first 13 hex chars of md5 parsed as
    an integer — exactly representable as a double in every engine.
    One definition for the batch op, the streaming merge, and the
    registry oracles (which format it into SQL)."""
    return (
        f"CAST(conv(substring(md5(CAST({col} AS STRING)), 1, 13), 16, 10)"
        " AS BIGINT)"
    )


def kmv_smallest(hashed: DataFrame, group_col: str, k: int) -> DataFrame:
    """The KMV sketch of ``hashed`` (``group_col``, ``h``): the k
    smallest distinct hashes per group. Min-k union is also the
    sketch's merge, so ST-13's streaming fold reuses it as is."""
    rn = F.row_number().over(Window.partitionBy(group_col).orderBy("h"))
    return hashed.distinct().withColumn("rn", rn).where(F.col("rn") <= k).drop("rn")


def kmv_summary(sketch: DataFrame, group_col: str) -> DataFrame:
    """Per group of a KMV sketch: the k-th smallest hash ``kth`` and
    the sketch size ``n_in_sketch``, the two inputs of
    ``kmv_estimate``."""
    return sketch.groupBy(group_col).agg(
        F.max("h").alias("kth"), F.count(F.lit(1)).alias("n_in_sketch")
    )


def kmv_estimate(k: int = KMV_K) -> Column:
    """The KMV distinct estimate from columns ``kth`` and
    ``n_in_sketch``: a sketch holding fewer than k hashes is the exact
    distinct set (the small-range rule), otherwise (k-1) * 2^52 / kth
    rounded to 4 places."""
    return F.when(
        F.col("n_in_sketch") < k, F.col("n_in_sketch").cast("double")
    ).otherwise(F.round(F.lit(float((k - 1) * (1 << 52))) / F.col("kth"), 4))


def kmv_distinct(events: DataFrame, k: int = KMV_K) -> DataFrame:
    """SK-2: KMV distinct-count sketch calibration (Bar-Yossef et al.,
    RANDOM 2002) — per event type, the k-minimum-values estimate of
    distinct users next to the exact count.

    This is the engine's *oracle-checkable* approximate distinct:
    `global_metrics_approx` (HLL) can only get a rows-only check
    because HLL registers are engine-internal, but KMV is explicit
    arithmetic — md5 the key, keep the k smallest 52-bit hash values,
    estimate (k-1) / u_(k) with u_(k) the k-th smallest hash
    normalized to [0,1) — so DuckDB replays it bit for bit. Groups
    with fewer than k distinct hashes report their exact sketch size
    (the standard small-range rule).

    Scale shape: the corpus collapses to distinct (group, hash) pairs
    in one combinable shuffle; the per-group top-k window runs on the
    distinct table; output is one row per group. The same k-smallest
    state is mergeable across partitions/streams, which is the whole
    point of the sketch.
    """
    # NULL keys are excluded on BOTH legs (a NULL hash would sort
    # first into the sketch while COUNT(DISTINCT) ignores it — the
    # cross-engine trap the oracle would catch).
    keyed = events.where(F.col("user_id").isNotNull())
    hashed = keyed.select(
        "event_type",
        F.expr(kmv_hash_expr("user_id")).alias("h"),
    )
    exact = (
        keyed.select("event_type", "user_id")
        .distinct()
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    return (
        kmv_summary(kmv_smallest(hashed, "event_type", k), "event_type")
        .join(exact, "event_type")
        .select(
            "event_type",
            "n_exact",
            kmv_estimate(k).alias("kmv_estimate"),
        )
        .withColumn(
            "rel_error",
            F.round(
                (F.col("kmv_estimate") - F.col("n_exact")) / F.col("n_exact"),
                4,
            ),
        )
        .orderBy("event_type")
    )


# Explicit-HLL parameters (SK-4): b=6 -> m=64 registers; the 52-bit
# md5 hash splits into a 6-bit register index and a 46-bit field whose
# leading-zero count (+1) is the register value rho in [1, 47].
HLL_B = 6
HLL_M = 1 << HLL_B  # 64
HLL_FIELD = 52 - HLL_B  # 46
HLL_FIELD_MASK = (1 << HLL_FIELD) - 1
HLL_RHO_MAX = HLL_FIELD + 1  # 47, the all-zero-field value
# alpha_64 from Flajolet et al. 2007 Fig. 3 (0.7213/(1+1.079/m) -> 0.709
# at m=64); kept as ONE double literal on both engines.
HLL_ALPHA = 0.709
# 2^47: the fixed-point scale that makes the harmonic-mean denominator
# an exact BIGINT (each register contributes 2^(47-rho), an integer).
HLL_ZSCALE = 1 << (HLL_RHO_MAX)


def hll_distinct(events: DataFrame, group_col: str = "event_type") -> DataFrame:
    """SK-4: explicit HyperLogLog distinct-count sketch (Flajolet,
    Fuchs, Gandouet & Meunier, AofA 2007) — per group, a 64-register
    HLL estimate of distinct users next to the exact count.

    `global_metrics_approx` uses the ENGINE's HLL and therefore gets
    only a rows-only check (register layout is engine-internal). This
    operator re-derives HLL from first principles so the estimate
    itself hash-certifies cross-engine, exactly like the KMV twin:

    - hash = first 13 md5 hex chars (52 bits, double-exact);
    - register index = top 6 bits, field w = low 46 bits;
    - rho(w) = leading zeros of the 46-bit field + 1, computed as
      ``47 - length(bin(w))`` (``bin`` drops leading zeros on both
      engines; w = 0 -> rho = 47);
    - registers = MAX(rho) per (group, index) — the only reduction,
      an exact integer max;
    - harmonic denominator kept in fixed point: each register
      contributes the exact BIGINT 2^(47-rho), absent registers
      contribute 2^47, so Z_int is an exact integer sum and the
      estimate alpha*m^2*2^47/Z_int is a single double division;
    - standard small-range correction: if raw <= 2.5m and some
      registers are empty, linear counting m*ln(m/V) (ln is
      bit-identical cross-engine).

    Scale shape: identical to SK-2 — one combinable distinct over
    (group, key), then all sketch math runs on <= m rows per group;
    registers are mergeable by MAX across partitions/streams, which
    is why production engines ship HLL as their default distinct
    sketch. Output: one row per group.
    """
    keyed = events.where(F.col("user_id").isNotNull())
    hashed = (
        keyed.select(group_col, "user_id")
        .distinct()
        .select(
            group_col,
            F.expr(kmv_hash_expr("user_id")).alias("h"),
        )
    )
    est = hll_estimate_from_registers(hll_registers(hashed, group_col), group_col)
    exact = (
        keyed.select(group_col, "user_id")
        .distinct()
        .groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("n_exact"))
    )
    return (
        est.join(exact, group_col)
        .select(group_col, "n_exact", "hll_estimate", "n_zero_registers")
        .withColumn(
            "rel_error",
            F.round(
                (F.col("hll_estimate") - F.col("n_exact")) / F.col("n_exact"),
                4,
            ),
        )
        .orderBy(group_col)
    )


def hll_registers(hashed: DataFrame, *group_cols: str) -> DataFrame:
    """The HLL registers (``group_cols``, idx, r) of the 52-bit hash
    column ``h``: the top 6 bits pick the register, rho is the
    leading-zero count of the low 46-bit field plus one (``bin`` drops
    leading zeros on both engines; a zero field is 47), and each
    register keeps the MAX rho. Also each micro-batch's increment of
    ST-16's streaming register state."""
    parts = hashed.select(
        *group_cols,
        F.expr(f"shiftright(h, {HLL_FIELD})").alias("idx"),
        F.expr(f"h & {HLL_FIELD_MASK}").alias("w"),
    )
    rho = F.when(F.col("w") == 0, F.lit(HLL_RHO_MAX)).otherwise(
        F.lit(HLL_RHO_MAX) - F.length(F.expr("bin(w)"))
    )
    return (
        parts.select(*group_cols, "idx", rho.alias("rho"))
        .groupBy(*group_cols, "idx")
        .agg(F.max("rho").alias("r"))
    )


def hll_estimate_from_registers(regs: DataFrame, *group_cols: str) -> DataFrame:
    """Per group of an (``group_cols``, idx, r) register table — one
    row when no group is given — the HLL estimate ``hll_estimate``
    and ``n_zero_registers``: the fixed-point harmonic sum plus the
    linear-counting correction. The one readout of SK-4 and of ST-16's
    drained streaming state."""
    z = regs.groupBy(*group_cols).agg(
        F.sum(
            F.expr(f"shiftleft(1L, cast({HLL_RHO_MAX} - r as int))")
        ).alias("z_present"),
        F.count(F.lit(1)).alias("m_present"),
    )
    v = F.lit(HLL_M) - F.col("m_present")
    z_int = F.col("z_present") + v * F.lit(HLL_ZSCALE)
    raw = (
        F.lit(HLL_ALPHA)
        * F.lit(float(HLL_M * HLL_M))
        * F.lit(float(HLL_ZSCALE))
        / z_int
    )
    # Small-range (linear-counting) correction, per the paper.
    corrected = F.when(
        (raw <= F.lit(2.5 * HLL_M)) & (v > 0),
        F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / v),
    ).otherwise(raw)
    return z.select(
        *group_cols,
        F.round(corrected, 4).alias("hll_estimate"),
        v.cast("long").alias("n_zero_registers"),
    )


# Explicit-Bloom parameters (SK-5): m bits, k affine hashes of the
# shared 52-bit md5 hash. Distinct odd multipliers from the CMS row
# constants keep the k positions decorrelated.
BLOOM_M = 1024
BLOOM_A = (13, 19, 23, 31)
BLOOM_B = (7, 61, 97, 131)


def bloom_positions(h: Column) -> Column:
    """The k bit positions of hash ``h``, as an array."""
    return F.array(
        *[(h * F.lit(a) + F.lit(b)) % CMS_P % BLOOM_M for a, b in zip(BLOOM_A, BLOOM_B)]
    )


def bloom_membership(
    events: DataFrame, member_type: str = "purchase"
) -> DataFrame:
    """SK-5: explicit Bloom-filter membership audit (Bloom, CACM
    1970) — build an m=1024-bit, k=4-hash filter over the users who
    performed ``member_type``, probe it with EVERY distinct user, and
    report the observed false-positive rate next to the filter's
    occupancy.

    The engine already USES a Bloom filter (J-14's bloom-pruned
    semi-join rides Spark's built-in, necessarily rows-only); this is
    the certifiable construction — bit positions are explicit affine
    transforms ``(a*h + b) % P % m`` of the 52-bit md5 hash, the
    filter is the distinct set of set-bit positions, and a probe is
    positive iff ALL its k positions are set — so the false-positive
    count itself hash-matches cross-engine, and the no-false-negative
    guarantee is pytest-pinned.

    Scale shape: the corpus collapses to distinct keys first (one
    combinable shuffle); the filter is <= m rows and broadcasts; the
    probe leg is a broadcast equi-join on bit position followed by a
    per-key count — the exact shape a Bloom-pruned shuffle join uses
    to drop non-matching rows before the expensive exchange. Output:
    ONE summary row.
    """
    keyed = events.where(F.col("user_id").isNotNull())
    members = (
        keyed.where(F.col("event_type") == member_type)
        .select("user_id")
        .distinct()
    )
    probes = keyed.select("user_id").distinct()

    def positions(df: DataFrame) -> DataFrame:
        pos = bloom_positions(F.expr(kmv_hash_expr("user_id")))
        return df.select("user_id", F.explode(pos).alias("bit"))

    bits = positions(members).select("bit").distinct()
    probed = (
        positions(probes)
        .distinct()  # a key whose hashes collide probes one bit once
        .join(
            F.broadcast(bits.withColumn("hit", F.lit(1))), "bit", "left"
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_pos"),
            F.coalesce(F.sum("hit"), F.lit(0)).alias("n_hit"),
        )
        .withColumn("positive", (F.col("n_hit") == F.col("n_pos")).cast("int"))
        .join(
            members.withColumn("is_member", F.lit(1)), "user_id", "left"
        )
        .withColumn("is_member", F.coalesce(F.col("is_member"), F.lit(0)))
    )
    n_bits = bits.agg(F.count(F.lit(1)).alias("n_set_bits"))
    # No-false-negative guarantee makes n_member_positives == n_members;
    # the subtraction still uses the member-positive count so the output
    # stays honest if the construction ever breaks (pytest pins equality).
    fp = F.col("n_positives") - F.col("n_member_positives")
    non_members = F.col("n_probes") - F.col("n_members")
    return (
        probed.agg(
            F.count(F.lit(1)).alias("n_probes"),
            F.sum("is_member").alias("n_members"),
            F.sum("positive").alias("n_positives"),
            F.sum(F.col("positive") * F.col("is_member")).alias(
                "n_member_positives"
            ),
        )
        .crossJoin(F.broadcast(n_bits))
        .select(
            "n_probes",
            "n_members",
            "n_set_bits",
            "n_positives",
            "n_member_positives",
            fp.alias("n_false_positives"),
            F.when(
                non_members > 0,
                F.round(fp.cast("double") / non_members, 6),
            ).alias("fpp_observed"),
        )
    )


def kmv_set_ops(
    events: DataFrame,
    k: int = KMV_K,
    type_a: str = "click",
    type_b: str = "purchase",
) -> DataFrame:
    """SK-3: set operations on KMV sketches (Beyer et al., SIGMOD
    2007) — union and intersection cardinality estimates for two key
    sets (users who did ``type_a`` vs ``type_b``) from the k smallest
    hashes alone, next to the exact answers. Union merges trivially
    (k smallest of the merged hash stream — the mergeability that
    lets every partition/day/source keep its own sketch); the
    intersection estimate is the Jaccard ratio observed INSIDE the
    union sketch (n_both / k) scaled by the union estimate.

    Like SK-2, the whole construction is explicit md5 order
    statistics, so the estimates themselves — not just the plumbing —
    are certified cross-engine. Scale shape: one combinable distinct
    over (hash, flags); the k-smallest selection is a distributed
    TakeOrderedAndProject (never a global window sort); the "exact"
    legs aggregate the same distinct-key table, which is the already-
    collapsed small side.
    """
    keyed = events.where(
        F.col("user_id").isNotNull() & F.col("event_type").isin(type_a, type_b)
    )
    flags = (
        keyed.select(
            F.expr(kmv_hash_expr("user_id")).alias("h"),
            (F.col("event_type") == type_a).cast("int").alias("in_a"),
            (F.col("event_type") == type_b).cast("int").alias("in_b"),
        )
        .groupBy("h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    topk = flags.orderBy("h").limit(k)
    sk = topk.agg(
        F.max("h").alias("kth"),
        F.count(F.lit(1)).alias("n_in_sketch"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("n_both"),
    )
    exact = flags.agg(
        F.sum("in_a").alias("n_a_exact"),
        F.sum("in_b").alias("n_b_exact"),
        F.count(F.lit(1)).alias("n_union_exact"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("n_inter_exact"),
    )
    return (
        exact.crossJoin(sk)
        .withColumn("kmv_union", kmv_estimate(k))
        .select(
            "n_a_exact",
            "n_b_exact",
            "n_union_exact",
            "n_inter_exact",
            "kmv_union",
            F.round(
                F.col("n_both").cast("double") * F.col("kmv_union") / k, 4
            ).alias("kmv_intersection"),
        )
    )


# AMS F2 sketch: 8 independent ±1 estimators, signs drawn from bits
# 0..7 of the shared 52-bit md5 hash.
AMS_D = 8


def ams_f2_skew(events: DataFrame) -> DataFrame:
    """SK-6: AMS second-frequency-moment sketch (Alon, Matias &
    Szegedy, STOC 1996) — per event type, the F2 = sum of squared
    per-user counts (the collision/self-join size statistic that
    quantifies key skew) estimated from 8 random-sign accumulators,
    beside the exact value.

    Every estimator is (sum over keys of sign(key) * count(key))^2
    with sign = ±1 from one bit of the md5 hash — all exact BIGINT
    arithmetic, so like SK-1/SK-2/SK-4 the approximation itself
    hash-certifies cross-engine; the lower-median of the 8 estimators
    is a deterministic ROW_NUMBER pick.

    Scale shape: one combinable (type, user) count collapses the
    corpus; the 8-fold explode runs on the distinct-key table; each
    accumulator is a plain integer sum (mergeable across partitions
    and streams — the sketch property AMS is famous for); output is
    one row per type. F2's operational meaning: the exact size of a
    self-join on the key, i.e. the shuffle a skewed join would pay.
    """
    counts = (
        events.where(F.col("user_id").isNotNull())
        .groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn("h", F.expr(kmv_hash_expr("user_id")))
    )
    est = (
        counts.select(
            "event_type",
            "c",
            F.posexplode(
                F.array(
                    *[
                        F.when(
                            F.expr(f"(h >> {j}) & 1") == 1, F.lit(1)
                        ).otherwise(F.lit(-1))
                        for j in range(AMS_D)
                    ]
                )
            ).alias("j", "sign"),
        )
        .groupBy("event_type", "j")
        .agg(F.sum(F.col("sign") * F.col("c")).alias("z"))
        .withColumn("est", F.col("z") * F.col("z"))
    )
    w = Window.partitionBy("event_type").orderBy("est", "j")
    med = (
        est.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == (AMS_D + 1) // 2)
        .select("event_type", F.col("est").alias("ams_estimate"))
    )
    exact = counts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(F.col("c") * F.col("c")).alias("f2_exact"),
    )
    return (
        exact.join(med, "event_type")
        .select(
            "event_type",
            "n_keys",
            "f2_exact",
            "ams_estimate",
            F.round(
                (F.col("ams_estimate") - F.col("f2_exact"))
                / F.col("f2_exact"),
                4,
            ).alias("rel_error"),
        )
        .orderBy("event_type")
    )


HISTQ_BINS = 256
HISTQ_PCTS = (50, 90, 95, 99)


def histogram_rank_bins(hist: DataFrame) -> DataFrame:
    """The rank search of a histogram's quantile readout, shared by
    SK-7 and ST-17: for each p in ``HISTQ_PCTS``, the first bin whose
    cumulative count ``cum`` reaches the integer rank
    r = (n*p + 99) div 100. ``hist`` holds one row per non-empty
    ``bin`` with its count ``cnt`` (other columns are carried along);
    the output adds p, r, cum and the total n. Each caller
    interpolates within its bin itself."""
    w_cum = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    w_all = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cum = hist.select(
        "*",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    pcts = hist.sparkSession.range(1).select(
        F.explode(F.array(*[F.lit(p) for p in HISTQ_PCTS])).alias("p")
    )
    hit = (
        cum.crossJoin(F.broadcast(pcts))
        .withColumn("r", F.expr("(n * p + 99) div 100"))
        .where(F.col("cum") >= F.col("r"))
    )
    rk = F.row_number().over(Window.partitionBy("p").orderBy("bin"))
    return hit.withColumn("rk", rk).where(F.col("rk") == 1).drop("rk")


def histogram_quantiles(events: DataFrame) -> DataFrame:
    """SK-7: mergeable fixed-bin histogram quantiles over event value
    — 256 equi-width bins between the exact min/max cents, integer
    bin counts, and p50/90/95/99 read off the cumulative histogram
    with within-bin linear interpolation. The certifiable counterpart
    of AGG-2b's engine `approx_percentile`: like the other SK
    sketches, the ESTIMATE ITSELF is deterministic integer + mirrored
    IEEE arithmetic, so it hash-certifies cross-engine — and the bin
    array is a commutative-monoid summary (per-partition histograms
    SUM), which is what production quantile services actually merge;
    error is bounded by one bin width (range/256) by construction.

    Exactness: bin index is pure integer floor math
    ((cents - lo) * 256 div (hi - lo + 1), all operands non-negative
    after the min subtraction); the target rank is the integer
    ceiling (n*p + 99) div 100; interpolation spends four mirrored
    IEEE ops on exact integers.

    Scale shape: one broadcast single-row min/max join, one
    combinable (bin) count — the corpus is scanned twice and nothing
    wider than a 256-row histogram survives; the percentile
    extraction windows run on <= 256 rows."""
    cents = (F.col("value").cast("decimal(18,2)") * 100).cast("long")
    vals = events.select(cents.alias("c"))
    rng = vals.agg(F.min("c").alias("lo"), F.max("c").alias("hi"))
    binned = vals.crossJoin(F.broadcast(rng)).select(
        "lo",
        "hi",
        F.expr(f"(c - lo) * {HISTQ_BINS} div (hi - lo + 1)").alias("bin"),
    )
    hist = binned.groupBy("lo", "hi", "bin").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    est = histogram_rank_bins(hist).select(
        "p",
        "n",
        "bin",
        F.col("cnt").alias("bin_n"),
        (
            F.col("lo").cast("double")
            + (
                F.col("bin").cast("double")
                + (F.col("r") - (F.col("cum") - F.col("cnt"))).cast("double")
                / F.col("cnt").cast("double")
            )
            * (F.col("hi") - F.col("lo") + 1).cast("double")
            / F.lit(float(HISTQ_BINS))
        ).alias("est_cents"),
    )
    return est.select(
        F.col("p").cast("long").alias("p"),
        "n",
        "bin",
        "bin_n",
        F.round(F.col("est_cents") / F.lit(100.0), 4).alias("est_value"),
    ).orderBy("p")
