"""Embedding similarity search (SURVEY.md §2.11 north-star).

Brute-force cosine top-k is the exact baseline: broadcast the (small)
query set against the corpus — a map-side nested loop, no shuffle of
the corpus — then per-query top-k via a window over the tiny
(query × corpus) score set. Two scale paths exist: sign-random-
projection LSH bucketing (probabilistic recall, for top-k search) and
exact angular cell pruning (for near-dup pairs, where recall must be
total — see ``embedding_near_dup``).

All arithmetic is native Spark SQL lambda expressions over
``array<float>`` cast to double with a left-fold sum — identical
evaluation order to the DuckDB oracles, so scores are bit-identical
before the final round(6).

At 100 TB: the corpus never collects; queries broadcast; top-k is
TakeOrdered per query partition. For billion-vector corpora swap the
brute-force stage for the LSH buckets (same scoring expression).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

N_PLANES = 8


# The corpus contract fixes embeddings at 64 dims; _dot_unrolled
# relies on it (with a guarded fold fallback for any other length).
EMB_DIM = 64


def _dot(a: str, b: str) -> Column:
    """Sequential left-fold dot product in double (order mirrored by
    the oracle SQL)."""
    return F.expr(
        f"""
        aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
                  CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)
        """
    )


def _dot_unrolled(a: str, b: str) -> Column:
    """``_dot`` with the fold unrolled into a flat left-associated
    sum of element products — bit-identical IEEE order
    ((0.0 + p1) + p2) + ... — for HIGH-VOLUME pair loops only.

    Why two forms: zip_with/aggregate are CodegenFallback expressions
    evaluated interpreted per element, so at large pair counts the
    unrolled chain (whole-stage codegen) wins big — measured 3.7 s ->
    2.5 s on the 500k-pair knn_label_accuracy at sf0.1. But every
    occurrence of the 64-term tree also adds fixed driver-side
    analysis/codegen cost per query construction (measured +0.05-0.7 s
    on bounded-pair queries like ivfpq_adc_topk, which evaluate the
    expression only ~10^4 times), so the fold stays the default and
    call sites opt in where the evaluation count provably dominates.
    Any non-EMB_DIM input falls back to the identical-semantics fold
    (the CASE branches are exclusive at runtime; collect-time
    semantics match because 0.0 + p1 == p1 for every IEEE double)."""
    terms = " + ".join(
        f"CAST(element_at({a}, {i}) AS DOUBLE) * "
        f"CAST(element_at({b}, {i}) AS DOUBLE)"
        for i in range(1, EMB_DIM + 1)
    )
    fold = f"""
        aggregate(zip_with({a}, {b}, (x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)),
                  CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)
        """
    return F.expr(
        f"CASE WHEN size({a}) = {EMB_DIM} AND size({b}) = {EMB_DIM} "
        f"THEN CAST(0.0 AS DOUBLE) + {terms} ELSE {fold} END"
    )


def embedding_norms(emb: DataFrame) -> DataFrame:
    """L2 norm per vector."""
    return emb.select(
        "vec_id",
        "label",
        F.round(F.sqrt(_dot("embedding", "embedding")), 6).alias("l2_norm"),
    ).orderBy("vec_id")


def knn_brute_force(
    emb: DataFrame, n_queries: int = 5, k: int = 5
) -> DataFrame:
    """Exact cosine top-k: queries (vec_id < n_queries) broadcast
    against the corpus; per-query top-k by (rounded cosine desc,
    neighbor id) — the deterministic tiebreak keeps ranking
    engine-independent."""
    # Norms are hoisted to the per-ROW sides (sqrt(dot(v, v)) is
    # deterministic, so the cosine is bit-identical) — inside the
    # pair expression they'd run |Q| x |C| times and triple the
    # per-pair flops; they also push the pair expression past the
    # JIT's huge-method limit once _dot unrolls (measured: the
    # 3-dots-per-pair form got SLOWER with the unrolled fast path).
    q = emb.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.sqrt(_dot("embedding", "embedding")).alias("q_norm"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        F.col("embedding").alias("c_emb"),
        F.sqrt(_dot("embedding", "embedding")).alias("c_norm"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            F.round(
                _dot("q_emb", "c_emb") / (F.col("q_norm") * F.col("c_norm")),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "neighbor_label", "cosine")
        .orderBy("query_id", "rank")
    )


def label_centroids(emb: DataFrame) -> DataFrame:
    """Per-label centroid, long format (label, dim, value).

    Components accumulate in DECIMAL (exact, order-independent) so the
    shuffled Spark sum hash-matches the oracle; one cast to double at
    the end."""
    exploded = emb.select(
        "label", F.posexplode("embedding").alias("dim", "x")
    ).select(
        "label",
        "dim",
        F.col("x").cast("double").cast("decimal(28,12)").alias("xd"),
    )
    return (
        exploded.groupBy("label", "dim")
        .agg(
            F.round(
                (F.sum("xd").cast("double") / F.count(F.lit(1))), 6
            ).alias("centroid")
        )
        .orderBy("label", "dim")
    )


def _l2(a: str, b: str) -> Column:
    """Squared L2 distance, sequential left fold (oracle-mirrored)."""
    return F.expr(
        f"""
        aggregate(zip_with({a}, {b},
                    (x, y) -> (CAST(x AS DOUBLE) - y) * (CAST(x AS DOUBLE) - y)),
                  CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)
        """
    )


def centroid_vectors(emb: DataFrame) -> DataFrame:
    """Per-label centroid as a dense double array (cell, cvec) — the
    coarse quantizer for IVF. DECIMAL-accumulated means rounded at 6,
    so both engines derive bit-identical centroids."""
    exploded = emb.select("label", F.posexplode("embedding").alias("dim", "x")).select(
        "label", "dim", F.col("x").cast("double").cast("decimal(28,12)").alias("xd")
    )
    cent_long = exploded.groupBy("label", "dim").agg(
        F.round(F.sum("xd").cast("double") / F.count(F.lit(1)), 6).alias("c")
    )
    return (
        cent_long.groupBy("label")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("dim"), F.col("c")))),
                lambda s: s.c,
            ).alias("cvec")
        )
        .select(F.col("label").alias("cell"), "cvec")
    )


def ann_ivf_topk(
    emb: DataFrame, n_queries: int = 5, k: int = 5, nprobe: int = 2
) -> DataFrame:
    """IVF-Flat approximate nearest neighbor: assign every vector to
    its nearest coarse centroid (inverted lists), probe the query's
    ``nprobe`` nearest cells, exact cosine top-k within the probed
    lists only.

    At scale the centroid table is tiny and broadcast; the corpus
    never shuffles for assignment (narrow crossJoin against the
    broadcast quantizer), and search touches ~nprobe/n_cells of the
    corpus instead of all of it. Rounded distances + label tiebreaks
    keep cell assignment engine-independent."""
    from bigdata_logs_spark.caching import tracked_cache

    cent = centroid_vectors(emb)
    # cache: the quantizer assignment feeds BOTH the inverted lists
    # (assign) and the query probes — uncached, the corpus × centroid
    # scoring and its per-vector window run twice per search, and a
    # multi-leg consumer (the nprobe sweep) pays it per leg. This is
    # the materialized cell assignment an IVF index IS; plan-equal
    # legs share the one copy.
    ranked = tracked_cache(
        emb.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "embedding",
            # norm hoisted per ROW (and cached with the assignment):
            # inside the pair expression it would run per candidate
            # pair; sqrt(dot(v, v)) is deterministic so the cosine is
            # bit-identical
            F.sqrt(_dot("embedding", "embedding")).alias("nrm"),
            "cell",
            F.round(_l2("embedding", "cvec"), 6).alias("dist"),
        )
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(F.asc("dist"), F.asc("cell"))
            ),
        )
    )
    assign = ranked.filter(F.col("rnk") == 1).select(
        F.col("vec_id").alias("neighbor_id"),
        "cell",
        F.col("embedding").alias("n_emb"),
        F.col("nrm").alias("n_norm"),
    )
    probes = ranked.filter(
        (F.col("vec_id") < n_queries) & (F.col("rnk") <= nprobe)
    ).select(
        F.col("vec_id").alias("query_id"),
        "cell",
        F.col("embedding").alias("q_emb"),
        F.col("nrm").alias("q_norm"),
    )
    scored = (
        F.broadcast(probes)
        .join(assign, "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            "cell",
            F.round(
                _dot("q_emb", "n_emb") / (F.col("q_norm") * F.col("n_norm")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "cell", "cosine")
        .orderBy("query_id", "rank")
    )


def _angle(cos_col: Column) -> Column:
    """Angle in radians from a cosine, clamped against float drift."""
    return F.acos(F.least(F.lit(1.0), F.greatest(F.lit(-1.0), cos_col)))


def embedding_near_dup(
    emb: DataFrame, threshold: float = 0.4, engine: str = "arrow"
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via EXACT cell pruning.

    Candidate generation blocks the corpus into cells (the label
    partition, i.e. the same coarse quantizer IVF uses) and prunes
    cell PAIRS with the angular triangle inequality: for vectors
    a ∈ A, b ∈ B, angle(a,b) >= angle(cA,cB) - radius(A) - radius(B),
    so any cell pair whose centroid angle exceeds
    arccos(threshold) + radius(A) + radius(B) can be dropped without
    scoring a single member pair — recall stays 100% by construction
    (unlike sign-LSH banding, whose recall at this threshold is
    probabilistic). Admissible cell pairs drive two equi-joins on the
    cell id; the corpus-wide broadcast nested loop never appears in
    the plan (asserted in tests/test_plans.py).

    Scoring engines (bit-identical results, proven in tests):

    - ``arrow`` (default): cogrouped ``applyInPandas`` — per probed
      cell, the candidate block is scored as 64 vectorized
      accumulation steps (``acc += A[:,i] * B[:,i]``), the SAME
      left-to-right fp operation order as the SQL fold, so every
      cosine is bit-identical to the fold path; rounding and the
      threshold cut stay in Spark. Higher-order-function folds
      evaluate interpreted per element, so this is the sanctioned
      Pandas-UDF exception: ~5x faster on millions of candidates.
    - ``fold``: pure native SQL-expression path (the oracle twin).

    Scale shape: centroids + radii reduce to n_cells rows, the
    admissible-pair list is at most n_cells² tiny rows (broadcast),
    and the corpus shuffles once per side on the cell key. On
    clustered real-world data (tight cells) pruning discards most
    cell pairs; on isotropic random data nothing CAN prune — there
    is no structure — and the plan degrades to all pairs via
    hash joins, never a nested loop. The exact verify scoring is
    unchanged from the all-pairs baseline, so the oracle is, too."""
    n = emb.select(
        "vec_id",
        F.col("label").alias("cell"),
        "embedding",
        F.sqrt(_dot("embedding", "embedding")).alias("nrm"),
    )
    cent = centroid_vectors(emb).withColumn(
        "c_nrm", F.sqrt(_dot("cvec", "cvec"))
    )
    # per-cell angular radius: max angle(member, own centroid)
    member_angle = _angle(
        _dot("embedding", "cvec") / (F.col("nrm") * F.col("c_nrm"))
    )
    radii = (
        n.join(F.broadcast(cent), "cell")
        .groupBy("cell")
        .agg(F.max(member_angle).alias("radius"))
    )
    cells = cent.join(radii, "cell")  # n_cells rows: cell, cvec, c_nrm, radius
    ca = cells.select(
        F.col("cell").alias("cell_a"),
        F.col("cvec").alias("cv_a"),
        F.col("c_nrm").alias("cn_a"),
        F.col("radius").alias("r_a"),
    )
    cb = cells.select(
        F.col("cell").alias("cell_b"),
        F.col("cvec").alias("cv_b"),
        F.col("c_nrm").alias("cn_b"),
        F.col("radius").alias("r_b"),
    )
    centroid_angle = _angle(
        _dot("cv_a", "cv_b") / (F.col("cn_a") * F.col("cn_b"))
    )
    # both orientations kept so the ordered (vec_a < vec_b) member join
    # below needs no cell normalization; slack only ADDS candidates,
    # preserving exactness. The bound must admit every pair the final
    # round-then-filter keeps: round(cos, 6) >= t accepts raw cosines
    # down to t - 5e-7, so prune against THAT threshold (plus a tiny
    # angle epsilon for acos drift) — pruning at the unrounded t
    # could drop a pair whose raw cosine rounds up across it.
    effective_t = max(-1.0, threshold - 5e-7)
    admissible = (
        ca.crossJoin(cb)
        .filter(
            centroid_angle
            <= F.lit(math.acos(effective_t) + 1e-9) + F.col("r_a") + F.col("r_b")
        )
        .select("cell_a", "cell_b")
    )
    # Cast vectors to double ONCE before pairing (the fold then runs
    # cast-free per element: same values — float→double is exact —
    # at a fraction of the per-pair cost over millions of candidates).
    nd = n.withColumn("ed", F.col("embedding").cast("array<double>"))
    a = nd.select(
        F.col("cell").alias("cell_a"),
        F.col("vec_id").alias("vec_a"),
        F.col("ed").alias("e_a"),
        F.col("nrm").alias("n_a"),
    )
    b = nd.select(
        F.col("cell").alias("cell_b"),
        F.col("vec_id").alias("vec_b"),
        F.col("ed").alias("e_b"),
        F.col("nrm").alias("n_b"),
    )
    probes = a.join(F.broadcast(admissible), "cell_a").select(
        "cell_b", "vec_a", "e_a", "n_a"
    )

    if engine == "arrow":
        import pandas as pd  # noqa: F401 (worker-side)

        # Slightly loose pre-cut inside the UDF (raw cosine), exact
        # round+threshold semantics re-applied in Spark below — so the
        # registered result is identical to the fold path.
        pre_cut = threshold - 1e-6

        def score(key, left, right):
            import numpy as np
            import pandas as pd

            if len(left) == 0 or len(right) == 0:
                return pd.DataFrame(
                    {"vec_a": [], "vec_b": [], "raw_cosine": []}
                ).astype({"vec_a": "int64", "vec_b": "int64", "raw_cosine": "float64"})
            A = np.vstack(left["e_a"].to_numpy())
            B = np.vstack(right["e_b"].to_numpy())
            va = left["vec_a"].to_numpy()
            vb = right["vec_b"].to_numpy()
            # sequential per-dimension accumulation: identical fp
            # operation order to the SQL fold (0 + p0) + p1 + ... so
            # every dot is bit-identical, just vectorized across pairs
            acc = np.zeros((len(A), len(B)))
            for i in range(A.shape[1]):
                acc += A[:, i : i + 1] * B[None, :, i]
            cos = acc / (left["n_a"].to_numpy()[:, None] * right["n_b"].to_numpy()[None, :])
            ia, ib = np.nonzero((va[:, None] < vb[None, :]) & (cos >= pre_cut))
            return pd.DataFrame(
                {
                    "vec_a": va[ia],
                    "vec_b": vb[ib],
                    "raw_cosine": cos[ia, ib],
                }
            )

        scored = (
            probes.groupBy("cell_b")
            .cogroup(b.groupBy("cell_b"))
            .applyInPandas(score, "vec_a long, vec_b long, raw_cosine double")
        )
        return (
            scored.select(
                "vec_a",
                "vec_b",
                F.round(F.col("raw_cosine"), 6).alias("cosine"),
            )
            .filter(F.col("cosine") >= threshold)
            .orderBy("vec_a", "vec_b")
        )

    dot_ab = F.expr(
        """
        aggregate(zip_with(e_a, e_b, (x, y) -> x * y),
                  CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)
        """
    )
    # Repartition the pair stream on the (unique) left vec id before
    # scoring. This targets the broadcast-join regime (corpus side
    # small enough to broadcast, e.g. a filtered candidate corpus):
    # there the join adds NO exchange of its own, so parallelism is
    # whatever the probe side inherited — possibly one split — and
    # this exchange of small (vec, partner-cell) rows buys the
    # scoring stage full-cluster parallelism. If the corpus side is
    # too big to broadcast, Spark's shuffle join repartitions on the
    # cell key anyway and this extra exchange is wasted — which is
    # one of the reasons the arrow engine (cogrouped by cell, no
    # per-pair row join) is the default.
    return (
        probes.repartition(F.col("vec_a"))
        .join(b, "cell_b")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            F.round(dot_ab / (F.col("n_a") * F.col("n_b")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .orderBy("vec_a", "vec_b")
    )


def lsh_sign_buckets(emb: DataFrame, n_planes: int = N_PLANES) -> DataFrame:
    """Sign-random-projection LSH: hyperplanes are the first
    ``n_planes`` corpus vectors (deterministic, engine-independent —
    no RNG needed); bucket = bitstring of dot-product signs. Returns
    bucket occupancy (the candidate-generation structure for
    approximate search)."""
    planes = emb.filter(F.col("vec_id") < n_planes).select(
        F.col("vec_id").alias("plane_id"), F.col("embedding").alias("p_emb")
    )
    bits = (
        emb.crossJoin(F.broadcast(planes))
        .withColumn(
            "bit",
            F.when(_dot("embedding", "p_emb") > 0, F.lit("1")).otherwise(F.lit("0")),
        )
        .groupBy("vec_id")
        .agg(
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("plane_id", "bit"))
                    ),
                    lambda s: s.bit,
                ),
            ).alias("bucket")
        )
    )
    return (
        bits.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.min("vec_id").alias("min_vec_id"),
        )
        .orderBy("bucket")
    )


def embedding_quantize(emb: DataFrame) -> DataFrame:
    """Scalar (per-dimension affine) int8-style quantization: each
    dimension is mapped to 0..255 against the corpus-wide per-dim
    min/max — the standard 4x memory cut before ANN indexing.

    Plan shape for 100 TB: one map-side-combined aggregation reduces
    the corpus to 64 (pos, min, max) rows, collapsed into two small
    arrays and CROSS-JOIN-broadcast back; the quantization itself is
    then a narrow per-row projection (``transform`` over the vector —
    no second shuffle, no explode of the corpus on the code path).
    """
    dims = emb.select(F.posexplode("embedding").alias("pos", "val"))
    stats = dims.groupBy("pos").agg(
        F.min(F.col("val").cast("double")).alias("mn"),
        F.max(F.col("val").cast("double")).alias("mx"),
    )
    arrs = stats.agg(
        F.expr(
            "transform(array_sort(collect_list(struct(pos, mn))), s -> s.mn)"
        ).alias("mns"),
        F.expr(
            "transform(array_sort(collect_list(struct(pos, mx))), s -> s.mx)"
        ).alias("mxs"),
    )
    codes = F.expr(
        """
        transform(sequence(1, size(embedding)), i ->
          CASE WHEN element_at(mxs, i) = element_at(mns, i) THEN 0
          ELSE CAST(round(
            (CAST(element_at(embedding, i) AS DOUBLE) - element_at(mns, i))
            * CAST(255.0 AS DOUBLE)
            / (element_at(mxs, i) - element_at(mns, i)), 0) AS INT)
          END)
        """
    )
    return (
        emb.crossJoin(F.broadcast(arrs))
        .select("vec_id", "label", codes.alias("codes"))
        .orderBy("vec_id")
    )


def knn_quantized(
    emb: DataFrame,
    n_queries: int = 5,
    k: int = 5,
    n_candidates: int = 20,
) -> DataFrame:
    """Two-stage ANN with int8 codes: integer dot product over the
    quantized vectors selects ``n_candidates`` per query, exact
    cosine on the float vectors re-ranks them to top-k.

    The candidate stage reads 64 ints per vector instead of 64
    floats, and its scores are pure BIGINT arithmetic — bit-exact on
    any engine and immune to float summation order, so the candidate
    cut is deterministic (ties broken by neighbor id). At scale this
    is the memory-bandwidth win that makes a single pass over a
    100 TB corpus feasible; the exact re-rank touches only
    queries × n_candidates full vectors.
    """
    codes = embedding_quantize(emb).select(
        "vec_id", F.col("codes").alias("q8")
    )
    base = emb.join(codes, "vec_id")
    # norms hoisted per ROW (bit-identical cosine; see knn_brute_force)
    q = base.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.sqrt(_dot("embedding", "embedding")).alias("q_norm"),
        F.col("q8").alias("q_codes"),
    )
    c = base.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("neighbor_label"),
        F.col("embedding").alias("c_emb"),
        F.sqrt(_dot("embedding", "embedding")).alias("c_norm"),
        F.col("q8").alias("c_codes"),
    )
    int_dot = F.expr(
        """
        aggregate(zip_with(q_codes, c_codes, (x, y) -> CAST(x AS BIGINT) * y),
                  CAST(0 AS BIGINT), (acc, v) -> acc + v)
        """
    )
    cand_w = Window.partitionBy("query_id").orderBy(
        F.desc("int_score"), F.asc("neighbor_id")
    )
    candidates = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("int_score", int_dot)
        .withColumn("cand_rank", F.row_number().over(cand_w))
        .filter(F.col("cand_rank") <= n_candidates)
    )
    rerank_w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        candidates.withColumn(
            "cosine",
            F.round(
                _dot("q_emb", "c_emb") / (F.col("q_norm") * F.col("c_norm")),
                6,
            ),
        )
        .withColumn("rank", F.row_number().over(rerank_w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "neighbor_id", "neighbor_label", "cosine")
        .orderBy("query_id", "rank")
    )


def ann_recall(
    emb: DataFrame, n_queries: int = 5, k: int = 5, nprobe: int = 2
) -> DataFrame:
    """Recall@k of the IVF index against exact brute force — the
    self-measurement every ANN deployment needs before trusting the
    index (recall is the tunable traded against nprobe).

    Both sides are the already-registered operators; the comparison
    itself only joins two (n_queries × k)-row results, so its cost is
    negligible next to the searches. At 100 TB you run this on a
    sampled query set, not the full corpus."""
    from bigdata_logs_spark.caching import tracked_cache

    # cache: tiny (n_queries × k); the brute-force side is identical
    # across the nprobe sweep's legs, so plan-equal reuse means the
    # exact baseline is computed once per sweep, not once per leg.
    exact = tracked_cache(
        knn_brute_force(emb, n_queries, k).select("query_id", "neighbor_id")
    )
    approx = (
        ann_ivf_topk(emb, n_queries, k, nprobe)
        .select("query_id", "neighbor_id")
        .withColumn("hit", F.lit(1))
    )
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hits"))
        .select(
            "query_id",
            "n_hits",
            F.round(F.col("n_hits") * 1.0 / F.lit(k), 4).alias("recall_at_k"),
        )
        .orderBy("query_id")
    )


def kmeans_update(emb: DataFrame, k: int = 8) -> DataFrame:
    """One Lloyd iteration of k-means over the embedding corpus —
    the training step behind the IVF coarse quantizer
    (``ann_ivf_topk`` consumes exactly such centroids): assign every
    vector to its nearest seed centroid, then recompute per-cluster
    per-dimension means.

    Seeds are the first ``k`` vectors by ``vec_id`` (deterministic,
    cross-engine reproducible). Plan shape for 100 TB: the k seed
    vectors collapse to ONE row broadcast to every task (same
    pattern as ``embedding_quantize``'s stats row); assignment is a
    narrow per-row array expression (distances via ``transform`` +
    ``aggregate`` — the corpus is never expanded k-fold, unlike a
    naive cross join); the only shuffle is the (cluster, pos)
    partial-aggregated mean — at most k x dim rows reach the reduce
    side. Output is one scalar row per (cluster, dimension):
    canonicalizer-safe, no array columns.

    Double-sum determinism: per-dimension sums accumulate in double
    with error ~1e-15 relative, then round at 1e-6 — five orders of
    magnitude of headroom, so engine-order differences cannot show
    in the output (same argument as ``qty_price_regression``).
    """
    seeds_row = (
        emb.orderBy("vec_id")
        .limit(k)
        .agg(
            F.expr(
                """
                transform(array_sort(collect_list(struct(vec_id, embedding))),
                          s -> transform(s.embedding, x -> CAST(x AS DOUBLE)))
                """
            ).alias("seeds")
        )
    )
    dists = F.expr(
        """
        transform(seeds, s -> aggregate(
          transform(sequence(1, size(embedding)), i ->
            (element_at(s, i) - CAST(element_at(embedding, i) AS DOUBLE)) *
            (element_at(s, i) - CAST(element_at(embedding, i) AS DOUBLE))),
          CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))
        """
    )
    assigned = (
        emb.crossJoin(F.broadcast(seeds_row))
        .withColumn("dists", dists)
        .withColumn(
            "cluster",
            (F.expr("array_position(dists, array_min(dists))") - 1).cast("int"),
        )
    )
    dims = assigned.select(
        "cluster",
        F.posexplode(F.expr("transform(embedding, x -> CAST(x AS DOUBLE))")).alias(
            "pos", "val"
        ),
    )
    return (
        dims.groupBy("cluster", "pos")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.sum("val") / F.count(F.lit(1)), 6).alias("mean_val"),
        )
        .orderBy("cluster", "pos")
    )


def random_projection(emb: DataFrame, d_out: int = 8) -> DataFrame:
    """E-10: Johnson–Lindenstrauss sign random projection — reduce the
    64-dim embedding to ``d_out`` coordinates y_j = sum_i sign(i,j) *
    x_i with a pseudo-random but fully deterministic ±1 sign matrix
    derived from Knuth-hash arithmetic on (i, j). The projection
    preserves pairwise distances within JL bounds, so it is the cheap
    front-end for clustering / visualisation / pre-filtering before
    exact scoring.

    Cross-engine exactness: each input component is first quantized to
    an integer (round(x * 1e6) in BIGINT), so the 64-term fold per
    output coordinate is pure integer arithmetic — no float sum-order
    sensitivity — and the final scale-back to double is ONE division.
    The sign matrix is arithmetic (no engine hash function):
    sign(i,j) = +1 if ((i*2654435761 + j*40503) % 2147483647) is even.

    Scale shape: per-row narrow expression, zero shuffles, zero
    broadcast state; whole-stage codegen end to end. Output is
    ``d_out`` scalar columns (canonicalizer-safe, no arrays).
    """
    quantized = emb.withColumn(
        "qv",
        F.expr(
            "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))"
        ),
    )
    cols = [
        F.expr(
            f"""
            aggregate(
              transform(sequence(1, size(qv)), i ->
                element_at(qv, i)
                * (1 - 2 * (((i * 2654435761 + {j} * 40503) % 2147483647) % 2))),
              0L, (acc, v) -> acc + v) / CAST(1000000.0 AS DOUBLE)
            """
        ).alias(f"proj_{j}")
        for j in range(1, d_out + 1)
    ]
    return quantized.select("vec_id", "label", *cols).orderBy("vec_id")


def pair_similarity_histogram(
    emb: DataFrame, n_cells: int = 16, bin_width: float = 0.1
) -> DataFrame:
    """E-11: sampled pairwise-cosine histogram — the distribution a
    curation team reads to PICK the near-dup threshold (where does the
    dup mode separate from the background bulk?) before committing to
    an ``embedding_near_dup`` cutoff. The reference has no calibration
    story at all; DD-11 (``minhash_calibration``) is this operator's
    text-side sibling.

    Sampling is structural, not a post-filter: each vector lands in
    one of ``n_cells`` pseudo-random cells via Knuth-hash arithmetic
    on vec_id (engine-independent — no rand()), and only SAME-CELL
    pairs are scored. That turns the quadratic all-pairs enumeration
    into an equi-join on the cell key: n^2/n_cells expected pairs,
    tunable to any budget by raising ``n_cells`` (the estimate stays
    unbiased — cells are an iid-like partition of the corpus, so
    within-cell pairs are a uniform pair sample).

    Scale shape: one narrow projection adds the cell key; the
    self-join shuffles each vector ONCE on the cell key (no
    broadcast of the corpus, no cartesian — plan-checked in tests);
    per-pair cosine is the same fold expression as knn; the histogram
    is a map-side-combinable groupBy over ~40 bins.
    """
    # Norms are computed ONCE per vector (narrow, pre-shuffle), not
    # per pair — at n^2/n_cells pairs that is the difference between
    # O(n) and O(n^2/n_cells) norm folds.
    cells = emb.select(
        "vec_id",
        "embedding",
        ((F.col("vec_id") * F.lit(2654435761)) % F.lit(2147483647) % F.lit(n_cells)).alias(
            "cell"
        ),
        F.sqrt(_dot("embedding", "embedding")).alias("norm"),
    )
    a, b = cells.alias("a"), cells.alias("b")
    pairs = a.join(
        b,
        (F.col("a.cell") == F.col("b.cell"))
        & (F.col("a.vec_id") < F.col("b.vec_id")),
    )
    cos = F.round(
        _dot("a.embedding", "b.embedding") / (F.col("a.norm") * F.col("b.norm")),
        6,
    )
    # Bin by floor(cos / width) on the ROUNDED cosine so the bin edge
    # decision is made on the same 6-decimal double in both engines.
    binned = pairs.select(
        F.floor(cos / F.lit(bin_width)).cast("int").alias("bin")
    )
    return (
        binned.groupBy("bin")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .select(
            "bin",
            F.round(F.col("bin") * F.lit(bin_width), 6).alias("cos_lo"),
            "n_pairs",
        )
        .orderBy("bin")
    )


def centroid_classification_report(emb: DataFrame) -> DataFrame:
    """E-12: nearest-centroid confusion matrix — how separable the
    label clusters are under the centroid geometry the IVF index
    (E-5) actually uses. A label whose vectors mostly classify into
    ANOTHER label's centroid is a label the coarse quantizer confuses,
    which is exactly where IVF recall (E-8) is lost: this report says
    WHERE, per label, not just how much in aggregate.

    One number per (true label, predicted label) pair plus the
    per-label accuracy share; assignment reuses the E-5 quantizer
    shape — centroids collapse to a tiny broadcast table, the corpus
    is scanned once narrowly, and only (label, predicted) pairs (k^2
    rows) ever shuffle. Rounded distances + cell tiebreak keep the
    argmin engine-independent.
    """
    cent = centroid_vectors(emb)
    assigned = (
        emb.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "label",
            "cell",
            F.round(_l2("embedding", "cvec"), 6).alias("dist"),
        )
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(
                    F.asc("dist"), F.asc("cell")
                )
            ),
        )
        .filter(F.col("rnk") == 1)
    )
    matrix = assigned.groupBy(
        "label", F.col("cell").alias("predicted")
    ).agg(F.count(F.lit(1)).alias("n"))
    per_label = Window.partitionBy("label")
    return (
        matrix.withColumn("label_total", F.sum("n").over(per_label))
        .select(
            "label",
            "predicted",
            "n",
            F.round(
                F.sum(
                    F.when(F.col("label") == F.col("predicted"), F.col("n"))
                    .otherwise(F.lit(0))
                ).over(per_label)
                / F.col("label_total"),
                6,
            ).alias("label_accuracy"),
        )
        .orderBy("label", "predicted")
    )


# ---------------------------------------------------------------------------
# Product quantization (E-13/E-14)
# ---------------------------------------------------------------------------

PQ_M = 4  # subspaces
PQ_SUBDIM = 16  # 64-dim embeddings -> 4 x 16
PQ_K = 8  # codes per subspace


def _pq_books_row(emb: DataFrame) -> DataFrame:
    """ONE broadcastable row holding the full PQ codebook:
    books[sub][code] = the 16-dim slice of seed vector ``code`` for
    subspace ``sub``. Seeds are the first PQ_K vectors by vec_id —
    the same deterministic convention as ``kmeans_update``; a real
    deployment would feed trained codebooks through the same shape."""
    seeds = emb.orderBy("vec_id").limit(PQ_K).agg(
        F.expr(
            """
            transform(array_sort(collect_list(struct(vec_id, embedding))),
                      s -> transform(s.embedding, x -> CAST(x AS DOUBLE)))
            """
        ).alias("seeds")
    )
    return seeds.select(
        F.expr(
            f"""
            transform(sequence(0, {PQ_M - 1}), sub ->
              transform(seeds, s -> slice(s, sub * {PQ_SUBDIM} + 1, {PQ_SUBDIM})))
            """
        ).alias("books")
    )


def _pq_dists_expr(sub: int) -> str:
    """Squared L2 distances from this row's subvector ``sub`` to each
    of the PQ_K codebook entries — exact same fold order as the
    DuckDB oracle (left fold over dimension index)."""
    off = sub * PQ_SUBDIM
    return f"""
        transform(element_at(books, {sub + 1}), c -> aggregate(
          transform(sequence(1, {PQ_SUBDIM}), i ->
            (element_at(c, i) - CAST(element_at(embedding, {off} + i) AS DOUBLE)) *
            (element_at(c, i) - CAST(element_at(embedding, {off} + i) AS DOUBLE))),
          CAST(0.0 AS DOUBLE), (acc, x) -> acc + x))
    """


def _pq_assigned(emb: DataFrame, books_row: DataFrame | None = None) -> DataFrame:
    """Internal: embeddings annotated with per-subspace code and
    squared distortion columns (code_s, dist_s for s in 0..PQ_M-1).
    The codebook collapses to ONE broadcast row (reused when the
    caller already built it); assignment is a narrow per-row array
    expression — the corpus is never exploded k-fold or m-fold."""
    if books_row is None:
        books_row = _pq_books_row(emb)
    out = emb.crossJoin(F.broadcast(books_row))
    for s in range(PQ_M):
        out = out.withColumn(f"d{s}", F.expr(_pq_dists_expr(s)))
        out = out.withColumn(
            f"code_{s}",
            (F.expr(f"array_position(d{s}, array_min(d{s}))") - 1).cast("int"),
        ).withColumn(f"dist_{s}", F.expr(f"array_min(d{s})"))
    return out


def pq_codes(emb: DataFrame) -> DataFrame:
    """E-13: product-quantization encoding — each 64-dim embedding
    compressed to PQ_M=4 one-byte codes (nearest codebook entry per
    16-dim subspace, first-index tie-break). 64 floats -> 4 bytes is
    the memory step that makes billion-vector ANN fit executor RAM;
    ``knn_quantized`` (E-7) shows the matching two-stage search.

    Output: (vec_id, code_0..code_3) — all scalar ints,
    canonicalizer-safe. Zero shuffles: broadcast codebook + narrow
    projection, whole-stage codegen end to end.
    """
    return _pq_assigned(emb).select(
        "vec_id", *[f"code_{s}" for s in range(PQ_M)]
    ).orderBy("vec_id")


def pq_distortion(emb: DataFrame) -> DataFrame:
    """E-14: PQ calibration report — per (subspace, code) cell count
    and mean squared reconstruction distortion, the number a PQ
    deployment watches to decide when codebooks need retraining.

    Double-sum determinism: same argument as ``kmeans_update`` —
    per-cell double sums carry ~1e-15 relative error vs the 1e-6
    rounding, so engine sum order cannot surface. Only PQ_M rows per
    vector reach the (subspace, code) shuffle, pre-aggregated
    map-side.
    """
    cells = F.array(
        *[
            F.struct(
                F.col(f"code_{s}").alias("code"),
                F.col(f"dist_{s}").alias("dist"),
            )
            for s in range(PQ_M)
        ]
    )
    # ONE evaluation of the 32 distance folds per vector; the union-of-
    # legs alternative re-evaluates the whole projection PQ_M times.
    per_sub = _pq_assigned(emb).select(
        F.posexplode(cells).alias("subspace", "cell")
    ).select(
        "subspace", F.col("cell.code").alias("code"), F.col("cell.dist").alias("dist")
    )
    return (
        per_sub.groupBy("subspace", "code")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.sum("dist") / F.count(F.lit(1)), 6).alias("mean_sq_dist"),
        )
        .orderBy("subspace", "code")
    )


def pq_adc_topk(emb: DataFrame, top_k: int = 10) -> DataFrame:
    """E-15: asymmetric-distance (ADC) k-nearest-neighbour search over
    PQ codes — the search half of the E-13 compression. The query (the
    first vector by vec_id) precomputes a PQ_M x PQ_K lookup table of
    exact squared distances from its subvectors to every codebook
    entry; each corpus vector's approximate distance is then just
    PQ_M table lookups and (PQ_M - 1) additions over its codes —
    never a touch of the original floats. That is why PQ search
    scans billions of vectors from RAM.

    Cross-engine exactness: the LUT cells come from the same fold the
    codebook assignment uses (bit-identical doubles), and the ADC sum
    is a fixed left-to-right chain of PQ_M doubles — deterministic on
    any engine; rounded at 1e-6 for the report. Ties on the rounded
    distance break by vec_id.

    Scale shape: codebook + LUT collapse to ONE broadcast row; the
    scan is a narrow per-row expression over the codes table; top-k
    is a TakeOrderedAndProject, no global sort materialized.
    """
    query_row = (
        emb.orderBy("vec_id")
        .limit(1)
        .select(
            F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("q")
        )
    )
    lut_cols = []
    for s in range(PQ_M):
        off = s * PQ_SUBDIM
        lut_cols.append(
            f"""
            transform(element_at(books, {s + 1}), c -> aggregate(
              transform(sequence(1, {PQ_SUBDIM}), i ->
                (element_at(c, i) - element_at(q, {off} + i)) *
                (element_at(c, i) - element_at(q, {off} + i))),
              CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)) AS lut{s}"""
        )
    books_row = _pq_books_row(emb)
    lut_row = books_row.crossJoin(query_row).selectExpr(*lut_cols)
    adc = F.expr(
        " + ".join(
            f"element_at(lut{s}, code_{s} + 1)" for s in range(PQ_M)
        )
    )
    return (
        _pq_assigned(emb, books_row)
        .select("vec_id", *[f"code_{s}" for s in range(PQ_M)])
        .crossJoin(F.broadcast(lut_row))
        .select("vec_id", F.round(adc, 6).alias("adc_sq_dist"))
        .orderBy("adc_sq_dist", "vec_id")
        .limit(top_k)
    )


def truncation_fidelity(emb: DataFrame) -> DataFrame:
    """E-16: prefix-truncation fidelity report — for each truncation
    width d in {8, 16, 32}, the corpus mean and worst-case cosine
    between the full 64-dim embedding and its first-d prefix
    (Matryoshka-representation evaluation, Kusupati et al. 2022): the
    go/no-go number for serving a cheaper prefix index (and the
    complement of E-10's random projection, which mixes dimensions
    instead of truncating).

    cos(full, prefix-padded) reduces algebraically to
    sqrt(prefix_energy / full_energy), so each vector needs only its
    energy prefix-sums — computed with the same fixed left-fold both
    engines run, one sqrt, one division. Per-d aggregation uses the
    kmeans rounding-headroom argument (values in (0,1], 1e-15
    relative error vs 1e-6 rounding).

    Scale shape: narrow per-row expression (3 rows per vector reach
    the 3-group shuffle, partials combined map-side); no broadcast
    state at all.
    """
    def energy(d: int | None) -> F.Column:
        src = "embedding" if d is None else f"slice(embedding, 1, {d})"
        return F.expr(
            f"""
            aggregate(transform({src},
                                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                      CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)
            """
        )

    dims = (8, 16, 32)
    # ONE corpus scan computes the full energy and every prefix energy;
    # a union of per-dim legs would rescan (and re-fold) three times.
    energies = emb.select(
        energy(None).alias("fe"), *[energy(d).alias(f"pe{d}") for d in dims]
    ).where(F.col("fe") > 0)
    rows = energies.select(
        F.posexplode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("trunc_dim"),
                        F.sqrt(F.col(f"pe{d}") / F.col("fe")).alias(
                            "cos_fidelity"
                        ),
                    )
                    for d in dims
                ]
            )
        ).alias("i", "cell")
    ).select(
        F.col("cell.trunc_dim").alias("trunc_dim"),
        F.col("cell.cos_fidelity").alias("cos_fidelity"),
    )
    return (
        rows.groupBy("trunc_dim")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.sum("cos_fidelity") / F.count(F.lit(1)), 6).alias(
                "mean_cos"
            ),
            F.round(F.min("cos_fidelity"), 6).alias("min_cos"),
        )
        .orderBy("trunc_dim")
    )


def ivf_nprobe_sweep(
    emb: DataFrame, probes: tuple = (1, 2, 4), n_queries: int = 5, k: int = 5
) -> DataFrame:
    """E-17: the recall-vs-nprobe tuning curve — E-8's recall@k
    measured at several probe widths in one report. This is THE knob
    an IVF deployment turns: more probed cells buys recall linearly
    in scan cost, and the operating point is chosen off exactly this
    table.

    Each leg reuses the registered searches (broadcast quantizer,
    list-scoped scans); the sweep only aggregates their
    (n_queries x k)-row outputs, so its cost is the searches
    themselves. recall is exact-integer hits / (n_queries * k).
    """
    legs = []
    for np_ in probes:
        hits = ann_recall(emb, n_queries, k, nprobe=np_).agg(
            F.sum("n_hits").alias("total_hits")
        )
        legs.append(
            hits.select(
                F.lit(np_).alias("nprobe"),
                "total_hits",
                F.round(
                    F.col("total_hits") / F.lit(n_queries * k), 4
                ).alias("mean_recall"),
            )
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionAll(leg)
    return out.orderBy("nprobe")


def ivfpq_adc_topk(
    emb: DataFrame, n_queries: int = 3, top_k: int = 10, nprobe: int = 2
) -> DataFrame:
    """E-18: IVF-PQ search — the two tiers composed the way FAISS's
    IVFPQ index does (Jégou, Douze & Schmid, TPAMI 2011): the coarse
    quantizer (E-5's label centroids) routes each vector to a cell,
    product quantization encodes the RESIDUAL (vector − its cell
    centroid) to PQ_M one-byte codes, and a query probes its
    ``nprobe`` nearest cells, scanning only those cells' code lists
    with a per-(query, cell) ADC lookup table built from the query's
    residual against that cell. Encoding residuals instead of raw
    vectors is what makes the codebook sharp: residual magnitudes are
    small and centered, so the same 8 codes per subspace cover them
    far tighter than they cover raw space.

    This is the billion-vector serving architecture end to end:
    memory per vector = one cell id + PQ_M bytes (the floats are
    dropped after encode); search cost = nprobe/n_cells of the corpus
    scanned as integer code lookups.

    Scale shape: centroids and the residual codebook each collapse to
    ONE broadcast row; assignment and encoding are narrow per-row
    expressions (corpus never shuffles); the LUT table is
    (n_queries × nprobe) rows, broadcast into the cell-keyed join
    against the code list; top-k per query is a bounded window over
    probe-limited candidates.

    Exactness: centroids are DECIMAL-accumulated and rounded at 1e-6
    (bit-identical cross-engine); residual subtraction and the
    LUT/encode folds are fixed-order double chains mirrored
    op-for-op by the oracle; ADC sums PQ_M doubles left to right,
    rounded at 1e-6 with neighbor-id tie-break.
    """
    cent = centroid_vectors(emb)
    resid = F.expr("zip_with(embedding, cvec, (x, c) -> CAST(x AS DOUBLE) - c)")
    ranked = (
        emb.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "embedding",
            "cell",
            "cvec",
            F.round(_l2("embedding", "cvec"), 6).alias("dist"),
        )
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.partitionBy("vec_id").orderBy(F.asc("dist"), F.asc("cell"))
            ),
        )
    )
    assign = ranked.filter(F.col("rnk") == 1).select(
        "vec_id", "cell", resid.alias("embedding")
    )
    books_row = _pq_books_row(assign)  # codebook over the residuals
    coded = _pq_assigned(assign, books_row).select(
        "vec_id", "cell", *[f"code_{s}" for s in range(PQ_M)]
    )
    probes = ranked.filter(
        (F.col("vec_id") < n_queries) & (F.col("rnk") <= nprobe)
    ).select(F.col("vec_id").alias("query_id"), "cell", resid.alias("embedding"))
    luts = probes.crossJoin(F.broadcast(books_row))
    for s in range(PQ_M):
        luts = luts.withColumn(f"lut{s}", F.expr(_pq_dists_expr(s)))
    luts = luts.select("query_id", "cell", *[f"lut{s}" for s in range(PQ_M)])
    adc = F.expr(
        " + ".join(f"element_at(lut{s}, code_{s} + 1)" for s in range(PQ_M))
    )
    scored = (
        F.broadcast(luts)
        .join(coded, "cell")
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            "cell",
            F.round(adc, 6).alias("adc_sq_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adc_sq_dist"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("query_id", "rank", "neighbor_id", "cell", "adc_sq_dist")
        .orderBy("query_id", "rank")
    )


def semantic_dedup(
    emb: DataFrame, threshold: float = 0.4, max_iter: int = 20
) -> DataFrame:
    """DD-15: semantic deduplication (SemDeDup — Abbas et al., 2023):
    cluster the corpus (the label cells, i.e. the same coarse
    quantizer IVF uses), connect WITHIN-cluster pairs whose cosine
    exceeds ``threshold``, and per duplicate group keep exactly one
    representative — following the paper, the member with the LOWEST
    cosine to its cluster centroid (the least-typical example carries
    the most residual information; ties break on vec_id). Every
    vector gets an audit row (vec_id, cell, component, centroid_cos,
    keep) — the keep=false rows are the reviewable dedup decision
    record, like PL-15's.

    This is the embedding-space member of the dedup stack: exact
    (DD-1) and token-level tiers (DD-2/DD-13/DD-14) cannot see a
    paraphrase; cosine over embeddings can.

    Scale shape: pair generation never leaves a cell (equi-join on
    the cell id — no cross-cell candidates by construction, the
    SemDeDup design point that keeps a billion-vector corpus
    tractable); components run through the shared
    ``iterate.pair_components`` loop ON THE PAIR LIST ONLY;
    centroids collapse to one broadcast row set. The final left join
    attaching singleton labels is the only corpus-wide pass.
    """
    from bigdata_logs_spark.caching import tracked_cache
    from bigdata_logs_spark.operators.iterate import pair_components

    n = emb.select(
        "vec_id",
        F.col("label").alias("cell"),
        "embedding",
        F.sqrt(_dot("embedding", "embedding")).alias("nrm"),
    ).transform(tracked_cache)
    cent = centroid_vectors(emb).withColumn(
        "c_nrm", F.sqrt(_dot("cvec", "cvec"))
    )
    withc = n.join(F.broadcast(cent), "cell").select(
        "vec_id",
        "cell",
        F.round(
            _dot("embedding", "cvec") / (F.col("nrm") * F.col("c_nrm")), 6
        ).alias("centroid_cos"),
    )
    a = n.select(
        F.col("cell"),
        F.col("vec_id").alias("u"),
        F.col("embedding").alias("e_u"),
        F.col("nrm").alias("n_u"),
    )
    b = n.select(
        F.col("cell"),
        F.col("vec_id").alias("v"),
        F.col("embedding").alias("e_v"),
        F.col("nrm").alias("n_v"),
    )
    pairs = (
        a.join(b, "cell")
        .filter(F.col("u") < F.col("v"))
        .filter(
            # stays on the fold _dot: the edge list built from the
            # pairs is cached, so the filter executes once per session
            # while the unrolled form would tax every RE-construction
            # with its plan-size analysis cost (measured flat-to-worse
            # here)
            F.round(_dot("e_u", "e_v") / (F.col("n_u") * F.col("n_v")), 6)
            >= threshold
        )
        .select("u", "v")
    )
    comp = pair_components(
        pairs, key="vec_id", label="component", max_iter=max_iter
    )
    labeled = withc.join(comp, "vec_id", "left").select(
        "vec_id",
        "cell",
        F.coalesce(F.col("component"), F.col("vec_id")).alias("component"),
        "centroid_cos",
    )
    w = Window.partitionBy("component").orderBy("centroid_cos", "vec_id")
    return (
        labeled.withColumn("rn", F.row_number().over(w))
        .select(
            "vec_id",
            "cell",
            "component",
            "centroid_cos",
            (F.col("rn") == 1).alias("keep"),
        )
        .orderBy("vec_id")
    )


def binary_knn(
    emb: DataFrame, n_queries: int = 3, top_k: int = 5, shortlist: int = 20
) -> DataFrame:
    """E-19: binary-quantized kNN — each 64-dim embedding collapses
    to its 64 SIGN BITS packed into two 32-bit halves (lo, hi), the
    Hamming distance over those bits shortlists candidates, and exact
    cosine re-ranks the shortlist. This is the 32x-memory-cut serving
    trick modern vector stores ship (binary quantization + rescoring):
    sign-bit Hamming is a proxy for angle (E-4's hyperplane argument,
    here with the identity planes), the scan is two XOR+popcount ops
    per vector, and recall is recovered by re-scoring only
    ``shortlist`` true vectors per query.

    Versus the siblings: E-4 BUCKETS on a few random sign bits (no
    ranking), E-13/E-15 quantize magnitudes to codebook cells; this
    keeps one bit per dimension and RANKS by bit disagreement.

    Exactness: bit packing, XOR and popcount are integer-exact on
    both engines (two 32-bit halves, so no sign-bit overflow
    ambiguity in the packed BIGINTs); the only floats are the
    re-rank cosines — the proven fold order, rounded at 1e-6.

    Scale shape: the signature table is 16 bytes/vector and scans
    with two-integer rows; queries broadcast; the shortlist window is
    bounded per query; only shortlist-many full vectors are ever
    fetched for re-rank (a semi-join-shaped lookup, not a scan).
    """
    def pack(lo_bit: int) -> Column:
        return F.expr(
            f"""
            aggregate(transform(sequence(1, 32),
                i -> IF(CAST(element_at(embedding, {lo_bit} + i) AS DOUBLE) > 0,
                        shiftleft(CAST(1 AS BIGINT), i - 1), CAST(0 AS BIGINT))),
              CAST(0 AS BIGINT), (acc, x) -> acc + x)
            """
        )

    sigs = emb.select(
        "vec_id", pack(0).alias("lo"), pack(32).alias("hi")
    )
    q = sigs.filter(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"),
        F.col("lo").alias("q_lo"),
        F.col("hi").alias("q_hi"),
    )
    hamming = F.bit_count(
        F.col("q_lo").bitwiseXOR(F.col("lo"))
    ) + F.bit_count(F.col("q_hi").bitwiseXOR(F.col("hi")))
    scored = (
        sigs.crossJoin(F.broadcast(q))
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            hamming.cast("int").alias("hamming"),
        )
    )
    w_short = Window.partitionBy("query_id").orderBy(
        "hamming", "neighbor_id"
    )
    short = (
        scored.withColumn("rs", F.row_number().over(w_short))
        .filter(F.col("rs") <= shortlist)
        .drop("rs")
    )
    # norms hoisted per ROW (bit-identical cosine; see knn_brute_force)
    qe = emb.select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("q_emb"),
        F.sqrt(_dot("embedding", "embedding")).alias("q_norm"),
    )
    ne = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("embedding").alias("n_emb"),
        F.sqrt(_dot("embedding", "embedding")).alias("n_norm"),
    )
    rer = (
        short.join(F.broadcast(qe.filter(F.col("query_id") < n_queries)), "query_id")
        .join(ne, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            "hamming",
            F.round(
                _dot("q_emb", "n_emb") / (F.col("q_norm") * F.col("n_norm")),
                6,
            ).alias("cosine"),
        )
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        rer.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= top_k)
        .select("query_id", "rank", "neighbor_id", "hamming", "cosine")
        .orderBy("query_id", "rank")
    )


def knn_diversity(emb: DataFrame, n_queries: int = 5, k: int = 5) -> DataFrame:
    """E-20: intra-list diversity of the top-k results — for each
    query, the mean and minimum pairwise cosine among its k
    neighbours (the redundancy metric behind result diversification:
    a list of five near-duplicates scores ~1.0 mean, a diverse list
    much lower; MMR-style re-rankers optimize exactly this trade).

    Exactness: each pairwise cosine is the E-2 ROUND(...,6) value,
    then quantized to micro-units (BIGINT) before the mean so the
    k*(k-1)/2-term sum is an exact integer reduction in any order.

    Scale shape: the neighbour lists are (queries x k) rows; the
    pair join is rank_a < rank_b INSIDE a query (bounded fan-out
    k^2/2), and the two embedding fetches are equi-joins on vec_id —
    semi-join-shaped lookups, never a corpus scan."""
    nbrs = knn_brute_force(emb, n_queries=n_queries, k=k).select(
        "query_id", "rank", "neighbor_id"
    )
    a, b = nbrs.alias("a"), nbrs.alias("b")
    pairs = a.join(
        b,
        (F.col("a.query_id") == F.col("b.query_id"))
        & (F.col("a.rank") < F.col("b.rank")),
    ).select(
        F.col("a.query_id").alias("query_id"),
        F.col("a.neighbor_id").alias("na"),
        F.col("b.neighbor_id").alias("nb"),
    )
    # norms hoisted per ROW (bit-identical cosine; see knn_brute_force)
    ea = emb.select(
        F.col("vec_id").alias("na"),
        F.col("embedding").alias("va"),
        F.sqrt(_dot("embedding", "embedding")).alias("norm_a"),
    )
    eb = emb.select(
        F.col("vec_id").alias("nb"),
        F.col("embedding").alias("vb"),
        F.sqrt(_dot("embedding", "embedding")).alias("norm_b"),
    )
    cos = F.round(
        _dot("va", "vb") / (F.col("norm_a") * F.col("norm_b")),
        6,
    )
    scored = (
        pairs.join(ea, "na")
        .join(eb, "nb")
        .select(
            "query_id",
            # round to the integer before the BIGINT cast: the *1e6
            # scaling of a 6dp-rounded cosine is within 1e-9 of an
            # integer but not exactly one, and Spark casts truncate
            # while DuckDB casts round
            F.round(cos * 1000000.0, 0).cast("bigint").alias("cos_q"),
            cos.alias("cosine"),
        )
    )
    return (
        scored.groupBy("query_id")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.sum("cos_q") / F.count(F.lit(1)) / 1000000.0, 6).alias(
                "mean_pairwise_cosine"
            ),
            F.min("cosine").alias("min_pairwise_cosine"),
        )
        .orderBy("query_id")
    )


def mmr_rerank(
    emb: DataFrame, n_queries: int = 3, shortlist: int = 10, select: int = 3
) -> DataFrame:
    """E-21: Maximal Marginal Relevance re-ranking (Carbonell &
    Goldstein, SIGIR 1998), lambda = 0.5 — greedily select ``select``
    results from each query's top-``shortlist`` by
    ``0.5*rel - 0.5*max_sim_to_already_selected``; the diversification
    pass that fixes the redundancy E-20 measures (a list of five near-
    identical neighbours collapses to one + genuinely different
    results).

    The greedy loop is UNROLLED for a fixed ``select`` (the serving
    shape: k is always small), so both engines replay identical
    steps; every comparison runs on ROUND(...,6) cosines with
    neighbor-id tiebreaks, keeping the argmax engine-independent.
    lambda = 0.5 is an exact halving.

    Scale shape: everything after the E-2 shortlist runs on
    (queries x shortlist) rows; the pairwise-sim table is
    shortlist^2-bounded per query and built by vec_id equi-joins —
    never a corpus scan.
    """
    from bigdata_logs_spark.caching import tracked_cache

    short = tracked_cache(
        knn_brute_force(emb, n_queries=n_queries, k=shortlist).select(
            "query_id",
            F.col("neighbor_id").alias("nid"),
            F.col("cosine").alias("qcos"),
        )
    )
    # norms hoisted per ROW (bit-identical cosine; see knn_brute_force)
    ea = emb.select(
        F.col("vec_id").alias("na"),
        F.col("embedding").alias("va"),
        F.sqrt(_dot("embedding", "embedding")).alias("norm_a"),
    )
    eb = emb.select(
        F.col("vec_id").alias("nb"),
        F.col("embedding").alias("vb"),
        F.sqrt(_dot("embedding", "embedding")).alias("norm_b"),
    )
    a = short.select("query_id", F.col("nid").alias("na"))
    b = short.select("query_id", F.col("nid").alias("nb"))
    cos = F.round(
        _dot("va", "vb") / (F.col("norm_a") * F.col("norm_b")),
        6,
    )
    sims = tracked_cache(
        a.join(b, "query_id")
        .where(F.col("na") != F.col("nb"))
        .join(ea, "na")
        .join(eb, "nb")
        .select("query_id", "na", "nb", cos.alias("sim"))
    )

    half = F.lit(0.5)
    picked = short.withColumn(
        "rnk", F.row_number().over(
            Window.partitionBy("query_id").orderBy(F.desc("qcos"), "nid")
        )
    ).where(F.col("rnk") == 1).select(
        "query_id",
        F.lit(1).alias("select_rank"),
        "nid",
        "qcos",
        F.lit(0.0).alias("max_sim_selected"),
        F.round(half * F.col("qcos"), 6).alias("mmr_score"),
    )
    out = picked
    for step in range(2, select + 1):
        # cache: each greedy step references the selected-so-far set
        # TWICE (the max-sim aggregation and the candidate anti-join),
        # and `out` embeds every earlier step — uncached, the unrolled
        # plan re-executes step k-1's windows/joins 2x per step
        # (geometric blowup in both plan size and work). ≤ n_queries ×
        # select rows.
        out = tracked_cache(out)
        sel = out.select("query_id", F.col("nid").alias("nb"))
        cand = short.join(
            out.select("query_id", "nid"), ["query_id", "nid"], "left_anti"
        )
        # rename the join keys: maxsim shares lineage with cand (both
        # derive from `short`), and same-lineage equality predicates
        # degenerate to trivially-true in Spark's attribute resolution
        maxsim = (
            sims.join(sel, ["query_id", "nb"])
            .groupBy(
                F.col("query_id").alias("mq"), F.col("na").alias("mn")
            )
            .agg(F.max("sim").alias("max_sim_selected"))
        )
        scored = cand.join(
            maxsim,
            (F.col("query_id") == F.col("mq")) & (F.col("nid") == F.col("mn")),
        ).select(
            "query_id",
            "nid",
            "qcos",
            "max_sim_selected",
            (half * F.col("qcos") - half * F.col("max_sim_selected")).alias(
                "score"
            ),
        )
        pick = (
            scored.withColumn(
                "rnk",
                F.row_number().over(
                    Window.partitionBy("query_id").orderBy(
                        F.desc("score"), "nid"
                    )
                ),
            )
            .where(F.col("rnk") == 1)
            .select(
                "query_id",
                F.lit(step).alias("select_rank"),
                "nid",
                "qcos",
                "max_sim_selected",
                F.round(F.col("score"), 6).alias("mmr_score"),
            )
        )
        out = out.unionByName(pick)
    return out.withColumnRenamed("nid", "neighbor_id").orderBy(
        "query_id", "select_rank"
    )


def embedding_drift(embeddings: DataFrame, top_k: int = 10) -> DataFrame:
    """E-22: per-dimension embedding drift — the corpus splits into
    two cohorts by vec_id parity (the deterministic stand-in for
    before/after an encoder change) and each dimension's mean is
    compared across cohorts; the ``top_k`` most-shifted dimensions
    are the drift report. A retrained or fine-tuned encoder shifts
    dimension means long before nearest-neighbour quality visibly
    degrades — this is the cheap monitor in front of E-7's recall
    check.

    Exactness: components quantize to micro-unit BIGINTs at the scan
    (the E-10/E-20 discipline), cohort sums are exact integer
    reductions, and each mean is ONE double division of exact-integer
    operands (denominator n*1e6 stays well under 2^53); the shift is
    one subtraction. Ordering ties break by dimension.

    Scale shape: one narrow posexplode pass + one combinable
    (cohort, dim) aggregation; the pivot join runs on 2*dims rows.
    Nothing corpus-sized survives the first aggregation."""
    q = F.expr(
        "transform(embedding, x -> "
        "CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))"
    )
    comps = embeddings.select(
        (F.col("vec_id") % 2).alias("cohort"),
        F.posexplode(q).alias("dim", "qv"),
    )
    agg = comps.groupBy("cohort", "dim").agg(
        F.sum("qv").alias("s"), F.count(F.lit(1)).alias("n")
    )
    even = agg.where(F.col("cohort") == 0).select(
        "dim", F.col("s").alias("s0"), F.col("n").alias("n0")
    )
    odd = agg.where(F.col("cohort") == 1).select(
        "dim", F.col("s").alias("s1"), F.col("n").alias("n1")
    )
    mean0 = F.col("s0").cast("double") / (F.col("n0") * F.lit(1000000))
    mean1 = F.col("s1").cast("double") / (F.col("n1") * F.lit(1000000))
    return (
        even.join(odd, "dim")
        .select(
            "dim",
            F.round(mean0, 8).alias("mean_even"),
            F.round(mean1, 8).alias("mean_odd"),
            F.round(mean1 - mean0, 8).alias("shift"),
        )
        .orderBy(F.abs(F.round(mean1 - mean0, 8)).desc(), "dim")
        .limit(top_k)
    )


def knn_label_accuracy(
    emb: DataFrame, sample_mod: int = 8, k: int = 5
) -> DataFrame:
    """E-23: leave-one-out kNN label accuracy — every sampled vector
    (vec_id % ``sample_mod`` == 0, the deterministic eval split) is
    classified by the majority label of its ``k`` exact-cosine
    nearest neighbours (self excluded), and the per-label hit rate is
    the report. The embedding-space sanity metric every encoder eval
    publishes: if a label's own neighbourhood can't predict it, no
    downstream ANN/cluster stage built on these vectors will.

    Determinism: cosines ROUND(6) with neighbor-id tiebreaks (the
    E-2 discipline); majority vote breaks ties by (count desc, label
    asc); accuracy is one IEEE division of exact counts, ROUND(4).

    Scale shape: the 1/``sample_mod`` query sample BROADCASTS against
    the corpus scan exactly like E-2 (at 100 TB the shortlist comes
    from E-6's IVF cells instead — same vote/report tail); the vote
    and report are two combinable aggregations over query-bounded
    rows (k votes per query, one row per label after)."""
    # Norm scalars are computed ONCE per vector, not once per pair —
    # sqrt(dot(v, v)) is deterministic, so hoisting it out of the
    # |Q| x |C| cross join leaves every cosine bit-identical while
    # cutting the pair-level flops to a single dot product.
    q = emb.where(F.col("vec_id") % sample_mod == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        F.col("embedding").alias("q_emb"),
        F.sqrt(_dot("embedding", "embedding")).alias("q_norm"),
    )
    c = emb.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("label").alias("n_label"),
        F.col("embedding").alias("c_emb"),
        F.sqrt(_dot("embedding", "embedding")).alias("c_norm"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn(
            "cosine",
            # |Q| x |C| evaluations — the one pair loop in the engine
            # big enough for the unrolled codegen form to pay for its
            # plan-size overhead (see _dot_unrolled)
            F.round(
                _dot_unrolled("q_emb", "c_emb")
                / (F.col("q_norm") * F.col("c_norm")),
                6,
            ),
        )
        .select(
            "query_id", "true_label", "neighbor_id", "n_label", "cosine"
        )
    )
    w_knn = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    votes = (
        scored.withColumn("rank", F.row_number().over(w_knn))
        .filter(F.col("rank") <= k)
        .groupBy("query_id", "true_label", "n_label")
        .agg(F.count(F.lit(1)).alias("votes"))
    )
    w_vote = Window.partitionBy("query_id").orderBy(
        F.desc("votes"), F.asc("n_label")
    )
    predicted = (
        votes.withColumn("vr", F.row_number().over(w_vote))
        .filter(F.col("vr") == 1)
        .select(
            "query_id",
            "true_label",
            F.col("n_label").alias("predicted_label"),
        )
    )
    return (
        predicted.groupBy(F.col("true_label").alias("label"))
        .agg(
            F.count(F.lit(1)).alias("n_queries"),
            F.sum(
                (F.col("predicted_label") == F.col("true_label")).cast(
                    "bigint"
                )
            ).alias("n_correct"),
        )
        .select(
            "label",
            "n_queries",
            "n_correct",
            F.round(
                F.col("n_correct").cast("double") / F.col("n_queries"), 4
            ).alias("accuracy"),
        )
        .orderBy("label")
    )


def label_cluster_quality(emb: DataFrame) -> DataFrame:
    """E-24: Davies-Bouldin cluster-quality report (Davies & Bouldin,
    IEEE TPAMI 1979) over the label partition — per label, the
    within-cluster scatter (mean member-to-centroid distance), the
    most-confusable other label, and the DB component
    max_j (s_i + s_j) / d(c_i, c_j). The separation metric that says
    whether the label structure E-3's centroids and E-23's accuracy
    rely on actually exists in the geometry (DB < 1: compact and
    separated; > 1: clusters overlap their nearest rival).

    Exactness: components quantize to micro-unit BIGINTs at the scan
    WITH a +1.0 offset so every value is positive — distances are
    translation-invariant, and floor division on non-negative
    integers is identical cross-engine (Spark ``div`` vs DuckDB
    ``//`` disagree only on negatives). Centroids are integer floor
    divisions; every squared distance is an exact BIGINT reduction
    (order-free); each sqrt/division is a single mirrored IEEE op;
    member distances re-quantize to BIGINT before the scatter sum.

    Scale shape: one posexplode pass; centroids and scatters are
    combinable aggregations; everything pairwise runs on k x k
    label pairs (k = label cardinality, tiny) with centroid tables
    broadcast-sized. Nothing corpus-sized survives the second
    aggregation."""
    q = F.expr(
        "transform(embedding, x -> "
        "CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) + 1000000)"
    )
    comps = emb.select(
        "vec_id", "label", F.posexplode(q).alias("dim", "qv")
    )
    cent = (
        comps.groupBy("label", "dim")
        .agg(F.sum("qv").alias("sq"), F.count(F.lit(1)).alias("nv"))
        .select("label", "dim", F.expr("sq div nv").alias("c"))
    )
    d2 = (
        comps.join(F.broadcast(cent), ["label", "dim"])
        .withColumn(
            "t", (F.col("qv") - F.col("c")) * (F.col("qv") - F.col("c"))
        )
        .groupBy("vec_id", "label")
        .agg(F.sum("t").alias("d2"))
    )
    scat = (
        d2.select(
            "label",
            F.round(F.sqrt(F.col("d2").cast("double")))
            .cast("long")
            .alias("smicro"),
        )
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("smicro").alias("ssum"),
        )
    )
    ci = cent.select(
        F.col("label").alias("label_i"), "dim", F.col("c").alias("c_i")
    )
    cj = cent.select(
        F.col("label").alias("label_j"), "dim", F.col("c").alias("c_j")
    )
    dd = (
        ci.join(cj, "dim")
        .where(F.col("label_i") != F.col("label_j"))
        .withColumn(
            "t", (F.col("c_i") - F.col("c_j")) * (F.col("c_i") - F.col("c_j"))
        )
        .groupBy("label_i", "label_j")
        .agg(F.sum("t").alias("dd2"))
    )
    si = scat.select(
        F.col("label").alias("label_i"),
        F.col("n_vecs").alias("n_i"),
        F.col("ssum").alias("ssum_i"),
    )
    sj = scat.select(
        F.col("label").alias("label_j"),
        F.col("n_vecs").alias("n_j"),
        F.col("ssum").alias("ssum_j"),
    )
    ratio = F.round(
        (
            F.col("ssum_i").cast("double") / F.col("n_i")
            + F.col("ssum_j").cast("double") / F.col("n_j")
        )
        / F.sqrt(F.col("dd2").cast("double")),
        6,
    )
    rated = (
        dd.join(F.broadcast(si), "label_i")
        .join(F.broadcast(sj), "label_j")
        .withColumn("ratio", ratio)
    )
    w = Window.partitionBy("label_i").orderBy(
        F.desc("ratio"), F.asc("label_j")
    )
    return (
        rated.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select(
            F.col("label_i").alias("label"),
            F.col("n_i").alias("n_vecs"),
            F.round(
                F.col("ssum_i").cast("double") / F.col("n_i") / F.lit(1000000.0),
                6,
            ).alias("scatter"),
            F.col("label_j").alias("nearest_label"),
            F.col("ratio").alias("db_component"),
        )
        .orderBy("label")
    )


PCA_SCALE = 1_000_000
PCA_SHIFT = 30
PCA_ITERS = 6


def pca_top_component(emb: DataFrame) -> DataFrame:
    """E-25: top principal component of the embedding cloud by
    ``PCA_ITERS`` fixed power-iteration steps on the (shifted)
    integer covariance matrix — the whitening/compression/drift axis
    every embedding pipeline eventually needs (a dominant PC with a
    large variance share usually means an uncentered or collapsed
    encoder; it is also E-10's principled sibling: project onto the
    TOP axis instead of a random one).

    Fixed-point exactness (the G-1/G-7 discipline, extended to
    covariance): components quantize to positive micro-unit BIGINTs
    (+1.0 shift; the covariance of a translated cloud is unchanged),
    the per-dim mean is a floor division of positive integers
    (engine-identical), centered cross-products accumulate as exact
    BIGINTs, and the matrix is rescaled by an arithmetic right-shift
    (``>> 30`` floors identically on negatives in both engines —
    verified). Each iteration is one integer matrix-vector product
    followed by a max-norm renormalization whose floor division is
    written as the (x - pmod)/D identity so both engines agree on
    negatives. Fixed iteration count keeps the oracle an identical
    unrolled replay. The variance share is a Rayleigh quotient over
    the shifted trace — three mirrored IEEE ops at the end.

    Scale shape: the corpus is touched exactly once — one posexplode
    pass + one vec_id self-join (the distributed Gram-matrix outer
    product, combinable per (d, e) cell). The 64 x 64 result then
    collapses to ONE row of ordered arrays and every power iteration
    is pure expression work (zip_with/aggregate) on that row: zero
    shuffles, zero extra stages per round — a 64 x 64 matrix has no
    business on the cluster. Per-iteration localCheckpoints keep the
    plan leaf-rooted (integer results are identical either way)."""
    q = F.expr(
        "transform(embedding, x -> "
        "CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) + 1000000)"
    )
    comps = emb.select("vec_id", F.posexplode(q).alias("dim", "qv"))
    mean = (
        comps.groupBy("dim")
        .agg(F.sum("qv").alias("sq"), F.count(F.lit(1)).alias("nv"))
        .select("dim", F.expr("sq div nv").alias("m"))
    )
    centered = comps.join(F.broadcast(mean), "dim").select(
        "vec_id", "dim", (F.col("qv") - F.col("m")).alias("x")
    )
    a = centered.select("vec_id", F.col("dim").alias("d"), F.col("x").alias("xa"))
    b = centered.select("vec_id", F.col("dim").alias("e"), F.col("x").alias("xb"))
    cov = (
        a.join(b, "vec_id")
        .groupBy("d", "e")
        .agg(F.sum(F.col("xa") * F.col("xb")).alias("craw"))
        .select("d", "e", F.expr(f"shiftright(craw, {PCA_SHIFT})").alias("c"))
    )
    # Collapse the k x k matrix to one row of e-ordered rows, d-ordered
    # — from here on, iteration work is expression-level.
    rows = cov.groupBy("d").agg(
        F.expr("transform(sort_array(collect_list(struct(e, c))), s -> s.c)")
        .alias("row")
    )
    state = rows.agg(
        F.expr("transform(sort_array(collect_list(struct(d, row))), s -> s.row)")
        .alias("m")
    ).select(
        "m",
        F.expr(f"transform(m[0], x -> CAST({PCA_SCALE} AS BIGINT))").alias("v"),
    )

    from bigdata_logs_spark.caching import track_checkpoint_rdd

    matvec = (
        "transform(m, row -> aggregate(zip_with(row, v, (a, b) -> a * b), "
        "CAST(0 AS BIGINT), (acc, x) -> acc + x))"
    )
    for _ in range(PCA_ITERS):
        w = state.select("m", F.expr(matvec).alias("w"))
        dv = w.select(
            "m",
            "w",
            F.expr(
                "greatest(aggregate(w, CAST(0 AS BIGINT), "
                f"(acc, x) -> greatest(acc, abs(x))) div {PCA_SCALE}, "
                "CAST(1 AS BIGINT))"
            ).alias("dv"),
        )
        state = dv.select(
            "m",
            F.expr(
                "transform(w, x -> (x - ((x % dv) + dv) % dv) div dv)"
            ).alias("v"),
        ).localCheckpoint(eager=True)
        track_checkpoint_rdd(
            state._jdf.queryExecution().analyzed().rdd()
        )

    # Rayleigh variance share over the shifted trace: lambda =
    # (v . C_s v) * SCALE / (v . v), share = lambda / trace(C_s).
    fin = state.select(
        "m",
        "v",
        F.expr(matvec).alias("wf"),
    ).select(
        "m",
        "v",
        F.expr(
            f"transform(wf, x -> (x - ((x % {PCA_SCALE}) + {PCA_SCALE}) "
            f"% {PCA_SCALE}) div {PCA_SCALE})"
        ).alias("ws"),
    )
    out = fin.select(
        "v",
        F.expr(
            "aggregate(zip_with(v, ws, (a, b) -> a * b), CAST(0 AS BIGINT), "
            "(acc, x) -> acc + x)"
        ).alias("num"),
        F.expr(
            "aggregate(zip_with(v, v, (a, b) -> a * b), CAST(0 AS BIGINT), "
            "(acc, x) -> acc + x)"
        ).alias("den"),
        F.expr(
            "aggregate(sequence(0, size(m) - 1), CAST(0 AS BIGINT), "
            "(acc, i) -> acc + m[i][i])"
        ).alias("tr"),
    ).select(
        "v",
        F.round(
            (F.col("num").cast("double") * F.lit(1000000.0) / F.col("den"))
            / F.col("tr"),
            6,
        ).alias("var_share"),
    )
    return (
        out.select(F.posexplode("v").alias("dim", "loading_micro"), "var_share")
        .select(
            "dim",
            "loading_micro",
            F.round(
                F.col("loading_micro").cast("double") / F.lit(1000000.0), 6
            ).alias("loading"),
            "var_share",
        )
        .orderBy("dim")
    )


def centroid_silhouette(emb: DataFrame) -> DataFrame:
    """E-26: simplified silhouette over the label partition
    (Rousseeuw 1987's index in the centroid approximation of
    Vendramin et al. 2010) — per point, a = distance to the OWN
    label centroid, b = distance to the NEAREST OTHER centroid,
    s = (b - a) / max(a, b); reported per label as the mean
    silhouette and the share of negative-s points (points that sit
    closer to a rival centroid than their own). E-24's Davies-
    Bouldin scores clusters pairwise at the CENTROID level; the
    silhouette says how many individual MEMBERS are on the wrong
    side — the per-point misassignment rate a relabeling pass would
    act on.

    Exactness: the E-24 discipline — micro-unit BIGINT components
    with a +1.0 positivity shift, integer floor-division centroids,
    exact BIGINT squared distances; b picks the minimum over OTHER
    labels on the INTEGER d2 (sqrt is monotone, so min-then-sqrt ==
    sqrt-then-min with one fewer float op); each point's s spends
    three mirrored IEEE ops and re-quantizes to BIGINT micro-units
    before the per-label sum, keeping the mean order-free.

    Scale shape: one posexplode pass; the point-to-centroid distance
    table is comps x k with the k x 64 centroid table BROADCAST and
    the (vec_id, clabel) reduction combinable; everything after runs
    on one row per point, then one row per label. At 100 TB this is
    exactly k-means assignment cost — one scan, no pairwise
    point-point work (the reason full silhouette is never run at
    scale and this approximation is)."""
    q = F.expr(
        "transform(embedding, x -> "
        "CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) + 1000000)"
    )
    comps = emb.select(
        "vec_id", "label", F.posexplode(q).alias("dim", "qv")
    )
    cent = (
        comps.groupBy("label", "dim")
        .agg(F.sum("qv").alias("sq"), F.count(F.lit(1)).alias("nv"))
        .select(
            F.col("label").alias("clabel"),
            "dim",
            F.expr("sq div nv").alias("c"),
        )
    )
    d2 = (
        comps.join(F.broadcast(cent), "dim")
        .withColumn(
            "t", (F.col("qv") - F.col("c")) * (F.col("qv") - F.col("c"))
        )
        .groupBy("vec_id", "label", "clabel")
        .agg(F.sum("t").alias("d2"))
    )
    per_point = d2.groupBy("vec_id", "label").agg(
        F.max(F.when(F.col("clabel") == F.col("label"), F.col("d2"))).alias(
            "d2_own"
        ),
        F.min(F.when(F.col("clabel") != F.col("label"), F.col("d2"))).alias(
            "d2_other"
        ),
    )
    a = F.sqrt(F.col("d2_own").cast("double"))
    b = F.sqrt(F.col("d2_other").cast("double"))
    s = F.when(
        F.greatest(F.col("d2_own"), F.col("d2_other")) == 0, F.lit(0.0)
    ).otherwise((b - a) / F.greatest(a, b))
    scored = per_point.select(
        "label",
        F.round(s * F.lit(1000000.0)).cast("long").alias("smicro"),
    )
    return (
        scored.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.sum("smicro").alias("ssum"),
            F.sum(
                F.when(F.col("smicro") < 0, F.lit(1)).otherwise(F.lit(0))
            ).alias("n_negative"),
        )
        .select(
            "label",
            "n_vecs",
            F.round(
                F.col("ssum").cast("double")
                / F.col("n_vecs")
                / F.lit(1000000.0),
                6,
            ).alias("mean_silhouette"),
            F.col("n_negative").cast("long").alias("n_negative"),
            F.round(
                F.col("n_negative").cast("double") / F.col("n_vecs"), 6
            ).alias("neg_share"),
        )
        .orderBy("label")
    )


HOPKINS_M = 32
HOPKINS_SEED = "hop1"


def hopkins_statistic(emb: DataFrame) -> DataFrame:
    """E-27: Hopkins clusterability statistic (Hopkins & Skellam 1954;
    the Lawson-Jurs form every clustering-tendency chapter quotes) —
    compare nearest-neighbor distances of m real points (w_i) against
    m synthetic uniform points drawn in the data's bounding box (u_i):
    H = sum(u) / (sum(u) + sum(w)). H near 0.5 means the embeddings
    are indistinguishable from uniform noise — running E-8's Lloyd
    steps or trusting E-24/E-26's cluster scores on such a corpus is
    GIGO; H near 1 certifies real cluster structure. The pre-flight
    gate for the whole clustering stack.

    Determinism/exactness: components quantize to E-24's shifted
    micro-unit BIGINTs at the scan; the m real probes are the
    smallest (52-bit md5, vec_id) hash ranks — a distributed top-k,
    no global window; the synthetic points are INTEGER lattice draws
    u_dim = lo_dim + ((hi_dim - lo_dim) * h20) div 2^20 from seeded
    20-bit md5 hashes (20 bits keep the BIGINT product exact against
    micro-unit ranges; the lattice step is range/2^20 — far below any
    NN distance), so both probe sets are exact integers; every squared
    distance is an exact BIGINT reduction over a dim equi-join; each
    NN distance takes one sqrt then re-quantizes to BIGINT micros so
    the two sums are order-free; H spends one division.

    Scale shape: the bounding box is one combinable per-dim min/max
    (64 rows); both probe sets (m x 64 rows) BROADCAST against the
    corpus component scan; the NN reduction is a combinable MIN per
    probe. Cost is exactly two E-2-shaped brute-force passes with
    m = 32 queries — at 100 TB the same IVF shortlist swap as E-23
    applies, same vote/report tail."""
    q = F.expr(
        "transform(embedding, x -> "
        "CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT) + 1000000)"
    )
    comps = emb.select("vec_id", F.posexplode(q).alias("dim", "qv"))
    box = comps.groupBy("dim").agg(
        F.min("qv").alias("lo"), F.max("qv").alias("hi")
    )
    h52 = (
        "CAST(conv(substring(md5(CAST(vec_id AS STRING)), 1, 13), 16, 10)"
        " AS BIGINT)"
    )
    probes = (
        emb.select("vec_id", F.expr(h52).alias("h"))
        .orderBy("h", "vec_id")
        .limit(HOPKINS_M)
    )
    real_pts = probes.join(comps, "vec_id").select(
        F.col("vec_id").alias("pid"), "dim", F.col("qv").alias("pv")
    )
    # w_i: NN distance from each real probe to the rest of the corpus
    wd = (
        comps.join(F.broadcast(real_pts), "dim")
        .where(F.col("vec_id") != F.col("pid"))
        .withColumn(
            "t", (F.col("qv") - F.col("pv")) * (F.col("qv") - F.col("pv"))
        )
        .groupBy("pid", "vec_id")
        .agg(F.sum("t").alias("d2"))
        .groupBy("pid")
        .agg(F.min("d2").alias("nn2"))
        .select(
            F.round(F.sqrt(F.col("nn2").cast("double")))
            .cast("long")
            .alias("nn_micro")
        )
    )
    # synthetic uniform lattice points in the bounding box
    ids = emb.sparkSession.range(HOPKINS_M).select(
        F.col("id").alias("sid")
    )
    uh = (
        f"CAST(conv(substring(md5(concat('{HOPKINS_SEED}:', "
        "CAST(sid AS STRING), ':', CAST(dim AS STRING))), 1, 13), 16, 10)"
        " AS BIGINT)"
    )
    synth = (
        ids.crossJoin(F.broadcast(box))
        .withColumn("h", F.expr(uh) % F.lit(2**20))
        .select(
            "sid",
            "dim",
            (
                F.col("lo")
                + F.expr(f"((hi - lo) * h) div {2**20}")
            ).alias("pv"),
        )
    )
    ud = (
        comps.join(F.broadcast(synth), "dim")
        .withColumn(
            "t", (F.col("qv") - F.col("pv")) * (F.col("qv") - F.col("pv"))
        )
        .groupBy("sid", "vec_id")
        .agg(F.sum("t").alias("d2"))
        .groupBy("sid")
        .agg(F.min("d2").alias("nn2"))
        .select(
            F.round(F.sqrt(F.col("nn2").cast("double")))
            .cast("long")
            .alias("nn_micro")
        )
    )
    ws = wd.agg(
        F.count(F.lit(1)).alias("m_real"), F.sum("nn_micro").alias("sw")
    )
    us = ud.agg(
        F.count(F.lit(1)).alias("m_synth"), F.sum("nn_micro").alias("su")
    )
    return ws.crossJoin(us).select(
        "m_real",
        "m_synth",
        F.round(F.col("sw").cast("double") / F.lit(1e6), 4).alias(
            "sum_w"
        ),
        F.round(F.col("su").cast("double") / F.lit(1e6), 4).alias(
            "sum_u"
        ),
        F.round(
            F.col("su").cast("double")
            / (F.col("su") + F.col("sw")).cast("double"),
            6,
        ).alias("hopkins"),
    )
