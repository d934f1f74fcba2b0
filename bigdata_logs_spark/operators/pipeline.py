"""Training-data pipeline operators (SURVEY.md §2.11 north-star).

Dataset-preparation primitives a large-scale training pipeline needs
on top of dedup/similarity/text-analysis: deterministic splits,
stratified sampling, and benchmark-contamination checks. The
reference (`/root/reference/src/`) has no analogue — its pipeline
stops at dashboard aggregation — so these generalize its
hash-free, full-recompute model to content-addressed set operations.

Scale posture:
- Split/sample assignment is a pure narrow projection (one md5 per
  row, no shuffle): runs at scan speed on 100 TB and is stable under
  repartition, re-runs, and incremental arrival — membership depends
  only on the id, never on row order or partition layout.
- Hash buckets come from the first 8 hex chars of md5 over a
  purpose-salted key ("split:<id>", "strat:<id>"), so the two
  assignments are statistically independent; both engines parse the
  hex identically (verified: Spark ``conv(...,16,10)`` ==
  DuckDB ``('0x'||...)::BIGINT``).
- Contamination explodes only (doc_id, ngram-hash) pairs — documents
  themselves never shuffle — and the benchmark side collapses to a
  distinct hash set that AQE broadcasts when small.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigdata_logs_spark.caching import tracked_cache
from bigdata_logs_spark.functions import spread_small_input

NGRAM_K = 8


def hash_bucket(id_col: Column, salt: str, n_buckets: int = 100) -> Column:
    """Deterministic bucket in [0, n_buckets) from md5(salt || id).

    First 8 hex chars -> 32-bit int -> mod. Content-independent,
    engine-independent, and stable forever — the property that makes
    train/val/test membership reproducible across pipeline runs.
    """
    h = F.md5(F.concat(F.lit(salt), id_col.cast("string")))
    return F.pmod(
        F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint"), F.lit(n_buckets)
    )


def train_val_test_split(
    docs: DataFrame, val_pct: int = 10, test_pct: int = 10
) -> DataFrame:
    """Assign every document to train/val/test by id-hash bucket.

    bucket < test_pct            -> test
    bucket < test_pct + val_pct  -> val
    else                         -> train
    """
    bucket = hash_bucket(F.col("doc_id"), "split:")
    split = (
        F.when(bucket < test_pct, F.lit("test"))
        .when(bucket < test_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    return (
        docs.select(
            "doc_id", "lang", bucket.alias("bucket"), split.alias("split")
        )
        .orderBy("doc_id")
    )


def stratified_sample(
    docs: DataFrame,
    rates: dict[str, int] | None = None,
    default_rate: int = 50,
) -> DataFrame:
    """Deterministic per-language downsampling (training-mix shaping):
    keep a doc iff its hash bucket < the rate for its language.

    Unlike ``df.sample`` this is reproducible row-by-row (no RNG, no
    partition sensitivity) and composes with incremental ingestion —
    a re-run over 100 TB + one new file keeps exactly the same rows.
    """
    rates = {"en": 25} if rates is None else rates
    bucket = hash_bucket(F.col("doc_id"), "strat:")
    rate: Column = F.lit(default_rate)
    for lang, pct in sorted(rates.items()):
        rate = F.when(F.col("lang") == lang, F.lit(pct)).otherwise(rate)
    return (
        docs.filter(bucket < rate)
        .select("doc_id", "lang", bucket.alias("bucket"))
        .orderBy("doc_id")
    )


def _ngram_hashes(k: int = NGRAM_K) -> Column:
    """Distinct md5 hashes of k-token ngrams (requires `tokens` col);
    docs shorter than k tokens yield none."""
    return F.expr(
        f"""
        CASE WHEN size(tokens) < {k} THEN array()
        ELSE array_distinct(transform(sequence(1, size(tokens) - {k - 1}),
               i -> md5(concat_ws(' ', slice(tokens, i, {k})))))
        END
        """
    )


def contamination_check(
    docs: DataFrame, benchmark_source: str = "src9", k: int = NGRAM_K
) -> DataFrame:
    """Benchmark-contamination scan: for each candidate training doc,
    count distinct k-gram hashes it shares with any benchmark doc
    (here: docs from ``benchmark_source`` stand in for the eval set).

    Only (doc_id, hash) pairs shuffle; the benchmark hash set is
    distinct-collapsed and broadcast-joined when small. At 100 TB the
    train side stays a narrow explode feeding one semi-join-shaped
    aggregation — no document text ever crosses the wire.
    """
    toks = spread_small_input(docs).withColumn(
        "tokens", F.split(F.trim(F.col("text")), r"\s+")
    )
    # cache: the exploded gram set feeds both the benchmark branch and
    # the train branch — without it the tokenize+explode runs twice
    grams = toks.select(
        "doc_id", "source", F.explode(_ngram_hashes(k)).alias("gram")
    ).transform(tracked_cache)
    bench = (
        grams.filter(F.col("source") == benchmark_source)
        .select("gram")
        .distinct()
    )
    train = grams.filter(F.col("source") != benchmark_source)
    return (
        train.join(bench, "gram")
        .groupBy("doc_id")
        .agg(F.countDistinct("gram").alias("n_contaminated_ngrams"))
        .orderBy("doc_id")
    )


def corpus_curation(
    docs: DataFrame,
    dedup_threshold: float = 0.5,
    min_tokens: int = 5,
    val_pct: int = 10,
    test_pct: int = 10,
) -> DataFrame:
    """The end-to-end training-corpus curation pipeline as ONE lazy
    plan: LSH near-dup removal (keep-first-seen) → cheap quality gate
    (minimum token count) → deterministic train/val/test assignment →
    per-(split, lang) manifest.

    This is the composition the individual operators exist for; being
    a single DataFrame expression, Catalyst prunes/pushes across all
    three stages at once (e.g. only doc_id/lang/text reach any
    shuffle) and nothing materializes between stages — at 100 TB the
    whole pipeline is one job, not three ETL hops.
    """
    from bigdata_logs_spark.operators.dedup import near_dup_survivors
    from bigdata_logs_spark.operators.textops import quality_scores

    surv = near_dup_survivors(docs, threshold=dedup_threshold).select(
        "doc_id", "lang"
    )
    quality = quality_scores(docs).select("doc_id", "n_tokens")
    kept = surv.join(quality, "doc_id").filter(F.col("n_tokens") >= min_tokens)
    bucket = hash_bucket(F.col("doc_id"), "split:")
    split = (
        F.when(bucket < test_pct, F.lit("test"))
        .when(bucket < test_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    return (
        kept.withColumn("split", split)
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .orderBy("split", "lang")
    )


def pack_token_budget(
    docs: DataFrame, budget: int = 2048, n_shards: int = 8
) -> DataFrame:
    """Concatenate-and-chunk sequence packing: per shard, documents
    are laid end-to-end in id order and each is assigned to the
    context window its FIRST token falls in (bin = floor(preceding
    tokens / budget)) — the standard pretraining packing layout,
    where the token stream is sliced at budget boundaries and a
    document may straddle a boundary (so a bin's token count can
    exceed ``budget`` by up to one document; downstream training
    slices the stream, it does not re-fit documents). This is NOT
    greedy first-fit bin packing: there is no per-doc fits/doesn't
    branch, which is exactly what keeps it a closed-form prefix sum.

    Sharded for scale: a single global running sum would serialize
    the whole corpus through one task, so docs are first assigned to
    ``n_shards`` independent packing streams by id-hash, and the
    running total is a window per shard — ``n_shards`` parallel
    tasks, each a sequential scan of its shard. At 100 TB raise
    n_shards to O(cores); bins are only ever read within one training
    shard so cross-shard bin ids need no coordination.

    Offset-by-id keeps assignment deterministic and streaming-
    friendly: a doc's bin depends only on the docs before it in its
    shard, never on later arrivals.
    """
    from pyspark.sql import Window

    from bigdata_logs_spark.operators.textops import quality_scores

    sized = quality_scores(docs).select("doc_id", "n_tokens")
    sharded = sized.withColumn(
        "shard", hash_bucket(F.col("doc_id"), "pack:", n_shards)
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    # concat-and-chunk: a doc belongs to the window its first token
    # falls in within the shard's concatenated token stream — a pure
    # prefix-sum, no iterative driver loop, no UDF (true first-fit
    # bin packing is inherently sequential per shard and would need a
    # per-shard UDF pass for no benefit to the slicing consumer)
    preceding = F.sum("n_tokens").over(w) - F.col("n_tokens")
    binned = sharded.withColumn(
        "bin", F.floor(preceding / F.lit(budget)).cast("int")
    )
    return (
        binned.groupBy("shard", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("bin_tokens"),
        )
        .orderBy("shard", "bin")
    )


def source_mixing_weights(docs: DataFrame) -> DataFrame:
    """Per-source sampling weights that would rebalance the corpus to
    a uniform token share per source (the domain-mixing step of
    training-data assembly: weight > 1 means upsample, < 1 means
    downsample).

    One map-side-combined aggregation reduces the corpus to a row per
    source; the corpus-wide totals join back via a broadcast of that
    tiny aggregate — the full corpus is scanned once and never
    shuffles more than (source, token-count) pairs.
    """
    from bigdata_logs_spark.operators.textops import with_tokens

    sized = with_tokens(docs).select(
        "source", F.size("tokens").alias("n_tokens")
    )
    per_source = sized.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("source_tokens"),
    )
    totals = per_source.agg(
        F.sum("source_tokens").alias("corpus_tokens"),
        F.count(F.lit(1)).alias("n_sources"),
    )
    return (
        per_source.crossJoin(F.broadcast(totals))
        .select(
            "source",
            "n_docs",
            "source_tokens",
            F.round(
                F.col("source_tokens") / F.col("corpus_tokens"), 6
            ).alias("token_share"),
            # uniform target share / actual share
            F.round(
                (F.col("corpus_tokens") / F.col("n_sources"))
                / F.col("source_tokens"),
                6,
            ).alias("sampling_weight"),
        )
        .orderBy("source")
    )


def token_length_percentile_gate(
    docs: DataFrame, lo: float = 0.05, hi: float = 0.95
) -> DataFrame:
    """Corpus length-distribution gate: exact p05/p95 of per-doc token
    counts and how many docs the [p05, p95] band keeps — the outlier
    filter (truncated heads, concatenation blobs) run before training.

    The percentile aggregate reduces the corpus to ONE row that joins
    back via broadcast; the gate itself is then a narrow filter. At
    100 TB swap ``percentile`` for ``approx_percentile`` (same plan
    shape, sketch-sized state) — exact here so the DuckDB oracle can
    check values."""
    from bigdata_logs_spark.operators.textops import with_tokens

    sized = with_tokens(docs).select(F.size("tokens").alias("n_tokens"))
    bounds = sized.agg(
        F.expr(f"percentile(n_tokens, array({lo}D, {hi}D))").alias("p")
    ).select(
        F.round(F.element_at("p", 1), 4).alias("p_lo"),
        F.round(F.element_at("p", 2), 4).alias("p_hi"),
    )
    return (
        sized.crossJoin(F.broadcast(bounds))
        .agg(
            F.first("p_lo").alias("p_lo"),
            F.first("p_hi").alias("p_hi"),
            F.count(F.lit(1)).alias("n_total"),
            F.sum(
                (
                    (F.col("n_tokens") >= F.col("p_lo"))
                    & (F.col("n_tokens") <= F.col("p_hi"))
                ).cast("long")
            ).alias("n_kept"),
        )
    )


def chunk_documents(
    docs: DataFrame, chunk_size: int = 16, stride: int = 12
) -> DataFrame:
    """Fixed-size token chunking with overlap (PL-10): every document
    becomes ceil(max(n_tokens - overlap, 1) / stride) windows of up
    to ``chunk_size`` tokens starting every ``stride`` tokens — the
    unit-of-work transform feeding RAG indexing and fixed-context
    pretraining (stride < chunk_size yields the overlapping windows
    that keep boundary context).

    Narrow per-row explode — no shuffle at all until a downstream
    consumer aggregates; chunk text leaves the row only as an md5
    (the canonicalizer-safe and 100-TB-safe form: downstream dedup
    or indexing wants the fingerprint, not a second copy of the
    corpus). Tail rule: the last window starts at the last stride
    step strictly inside the doc, so every token lands in >=1 chunk
    and empty docs yield no rows. That coverage guarantee requires
    ``stride <= chunk_size`` (a larger stride leaves inter-window
    gaps), so the misconfiguration is rejected eagerly.
    """
    if not 1 <= stride <= chunk_size:
        raise ValueError(
            f"need 1 <= stride ({stride}) <= chunk_size ({chunk_size}); "
            "a larger stride drops the tokens between windows"
        )
    from bigdata_logs_spark.operators.textops import with_tokens

    starts = F.expr(
        f"""
        CASE WHEN size(tokens) = 0 THEN array()
        ELSE transform(
          sequence(1, size(tokens), {stride}),
          s -> s)
        END
        """
    )
    toks = with_tokens(docs).withColumn("starts", starts)
    return (
        toks.select(
            "doc_id",
            "tokens",
            F.posexplode("starts").alias("chunk_no", "start"),
        )
        .select(
            "doc_id",
            "chunk_no",
            F.expr(f"slice(tokens, start, {chunk_size})").alias("chunk"),
        )
        .select(
            "doc_id",
            "chunk_no",
            F.size("chunk").alias("n_tokens"),
            F.md5(F.concat_ws(" ", F.col("chunk"))).alias("chunk_md5"),
        )
        .orderBy("doc_id", "chunk_no")
    )


def per_source_sample(docs: DataFrame, n_per_source: int = 5) -> DataFrame:
    """Deterministic N-doc preview per source (PL-11): rank each
    source's documents by a salted id-hash and keep the first N —
    the "dataset card" sample every corpus release ships, and the
    spot-check set reviewers pull per provider.

    Hash-ranked, not ``LIMIT``-per-group: reproducible row-for-row
    across engines, runs, and partitionings, and re-running over
    100 TB + one new file changes at most which N win the hash race,
    never the semantics. One shuffle on ``source`` (window top-N with
    a running partial: only (source, hash) pairs and the N winners'
    ids matter; doc text never shuffles)."""
    from pyspark.sql import Window

    h = F.md5(F.concat(F.lit("sample:"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy(h, F.col("doc_id"))
    return (
        docs.select("doc_id", "source", "lang", "n_chars")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= n_per_source)
        .orderBy("source", "rnk")
    )


def key_skew_report(
    fact: DataFrame, key: str, top: int = 10
) -> DataFrame:
    """Key-distribution skew diagnostic (SKEW-3): the top hot keys by
    row count with their share of the table and the multiple of a
    perfectly even key's load — the report you read BEFORE deciding
    to salt a join or enable AQE skew handling on a 100 TB fact.

    Two aggregations: per-key counts (map-side combined), then a
    single-row total broadcast back; the output is ``top`` rows, so
    nothing wide ever reaches the driver."""
    counts = fact.groupBy(F.col(key).alias("key_value")).agg(
        F.count(F.lit(1)).alias("n_rows")
    )
    totals = counts.agg(
        F.sum("n_rows").alias("total_rows"),
        F.count(F.lit(1)).alias("n_keys"),
    )
    return (
        counts.crossJoin(F.broadcast(totals))
        .select(
            F.col("key_value").cast("string").alias("key_value"),
            "n_rows",
            F.round(F.col("n_rows") * 1.0 / F.col("total_rows"), 6).alias(
                "share"
            ),
            F.round(
                F.col("n_rows") * 1.0 * F.col("n_keys") / F.col("total_rows"), 6
            ).alias("x_even_load"),
        )
        .orderBy(F.desc("n_rows"), F.asc("key_value"))
        .limit(top)
    )


def corpus_manifest(docs: DataFrame) -> DataFrame:
    """PL-12: deterministic dataset-card manifest per (source, lang)
    stratum — the reproducibility artifact published next to an
    exported training corpus: row/char/token totals, the doc_id range,
    and an order-independent content fingerprint (bit_xor of a 32-bit
    md5 prefix per document), so two exports can be compared for
    identical CONTENT without re-reading either.

    bit_xor, not sum: commutative/associative like sum, but can never
    overflow and never needs ANSI wraparound care at any corpus size.
    One map-side-combinable groupBy; output is strata-sized.
    """
    from bigdata_logs_spark.operators.textops import _tokens

    toks = _tokens(F.col("text"))
    return (
        docs.groupBy("source", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("n_chars"),
            F.sum(F.size(toks)).alias("n_tokens"),
            F.min("doc_id").alias("min_doc_id"),
            F.max("doc_id").alias("max_doc_id"),
            F.expr(
                "bit_xor(cast(conv(substr(md5(text), 1, 8), 16, 10) as bigint))"
            ).alias("content_fingerprint"),
        )
        .orderBy("source", "lang")
    )


def leakage_safe_split(
    docs: DataFrame,
    threshold: float = 0.5,
    val_pct: int = 10,
    test_pct: int = 10,
) -> DataFrame:
    """PL-13: near-dup-aware train/val/test split — the whole
    near-duplicate COMPONENT is assigned to one split, so a test
    document can never have a near-duplicate sibling in train. This
    is the eval-integrity gap ``train_val_test_split`` (PL-1) leaves
    open and ``contamination_check`` (PL-3) can only report after the
    fact: with per-doc hashing, ~J*|test| of test docs have a >=J-
    similar twin in train and the benchmark silently inflates.

    Composition contract: the bucket uses the SAME salt and hash as
    PL-1 applied to the component representative, so singleton docs
    (component == doc_id, the overwhelming majority) keep their PL-1
    assignment bit-for-bit — adopting the leakage-safe split only
    MOVES docs that are in a non-trivial near-dup component.

    Scale shape: the component labels come from the LSH-verified pair
    list (``near_dup_components`` — pair-list-sized iterations, one
    corpus touch); the split itself is a narrow md5 expression on the
    label. Nothing new shuffles.
    """
    from bigdata_logs_spark.operators.dedup import near_dup_components

    comps = near_dup_components(docs, threshold=threshold)
    bucket = hash_bucket(F.col("component"), "split:")
    split = (
        F.when(bucket < test_pct, F.lit("test"))
        .when(bucket < test_pct + val_pct, F.lit("val"))
        .otherwise(F.lit("train"))
    )
    return comps.select(
        "doc_id", "component", bucket.alias("bucket"), split.alias("split")
    ).orderBy("doc_id")


def curriculum_phases(docs: DataFrame, n_phases: int = 4) -> DataFrame:
    """PL-14: length-based curriculum ordering (Bengio et al., ICML
    2009 "Curriculum Learning" — shortest-first): quartile the corpus
    by token count into training phases, then give each document a
    deterministic *shuffled* rank inside its phase (md5 of doc_id), so
    phases present easy→hard while documents inside a phase arrive
    decorrelated from ingest order.

    Exactness: NTILE over the total order (n_tokens, doc_id) and
    row_number over (md5(doc_id), doc_id) are both tie-free integer/
    string comparisons — no floats anywhere.

    Scale shape: BOTH global orderings ride the shared two-pass
    ``global_ranked`` (range-repartition + per-slice offsets) — the
    phase comes from ``ntile_from_rank`` on the corpus-wide rank, the
    in-phase shuffled rank from a second ``global_ranked`` partitioned
    by phase — so no single task ever sorts the whole doc table (or a
    whole phase, which is 1/n_phases of it: the window forms this
    replaced did exactly that). Only (doc_id, n_tokens, md5) triples
    move; the payload text never enters either sort.
    """
    from bigdata_logs_spark.operators.analytics import (
        global_ranked,
        ntile_from_rank,
    )
    from bigdata_logs_spark.operators.textops import with_tokens

    base = (
        with_tokens(docs)
        .select("doc_id", F.size("tokens").alias("n_tokens"))
        .withColumn("grp", F.lit("all"))
    )
    ranked = global_ranked(base, "grp", ("n_tokens", "doc_id"))
    phased = ranked.select(
        "doc_id",
        "n_tokens",
        ntile_from_rank(F.col("rn"), F.col("n"), n_phases).alias("phase"),
        F.md5(F.col("doc_id").cast("string")).alias("_shuf"),
    )
    in_phase = global_ranked(phased, "phase", ("_shuf", "doc_id"))
    return (
        in_phase.select(
            "doc_id",
            "n_tokens",
            "phase",
            F.col("rn").alias("phase_rank"),
        )
        .orderBy("phase", "phase_rank")
    )


def packing_efficiency(
    docs: DataFrame, budget: int = 2048, n_shards: int = 8
) -> DataFrame:
    """PL-16: packing-efficiency report over PL-6's layout — per
    shard, how many context windows the stream fills and the mean
    fill fraction (bin tokens / budget). The number a pretraining
    data team watches to decide whether document order / shard count
    needs retuning before a run burns compute on padding.

    Fill can exceed 1.0 for bins whose last document straddles the
    boundary (PL-6 slices the stream, it does not re-fit), so the
    report also counts straddling bins. Reduces PL-6's already-tiny
    per-bin output — nothing corpus-sized is touched beyond the
    packing pass itself.
    """
    packed = pack_token_budget(docs, budget=budget, n_shards=n_shards)
    return (
        packed.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_bins"),
            F.sum("bin_tokens").alias("shard_tokens"),
            F.round(
                F.sum("bin_tokens") / (F.count(F.lit(1)) * budget), 4
            ).alias("mean_fill"),
            F.sum((F.col("bin_tokens") > budget).cast("long")).alias(
                "straddling_bins"
            ),
        )
        .orderBy("shard")
    )


def sessions_to_documents(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """PL-17: textualize event sessions into training documents — the
    bridge between the log world and the LLM-data world: each user
    session (30-min gaps-and-islands, AGG-1's rule) becomes one
    behavioral "document" of ordered ``event_type@HH:MM`` tokens, the
    standard serialization for training sequence models on user
    journeys. Emitted as md5 + stats (the text leaves the row only as
    a fingerprint, like PL-10's chunks — payload-free shuffles).

    Shape: one user_id shuffle, in-partition windows for the session
    cumsum, then a (user, session) aggregation whose string_agg is
    bounded by session length. Deterministic: (ts, event_id) totally
    orders each session's tokens.
    """
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap_s = gap_minutes * 60
    sess = (
        events.withColumn("prev_ts", F.lag("ts").over(w))
        .withColumn(
            "new_session",
            (
                F.col("prev_ts").isNull()
                | (
                    F.unix_timestamp("ts") - F.unix_timestamp("prev_ts")
                    > gap_s
                )
            ).cast("int"),
        )
        .withColumn(
            "session_no",
            F.sum("new_session").over(
                w.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
    )
    token = F.concat_ws(
        "@", F.col("event_type"), F.date_format("ts", "HH:mm")
    )
    return (
        sess.withColumn("tok", token)
        .groupBy("user_id", "session_no")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.md5(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct("ts", "event_id", "tok")
                            )
                        ),
                        lambda s: s["tok"],
                    ),
                    " ",
                )
            ).alias("doc_md5"),
        )
        .orderBy("user_id", "session_no")
    )


def token_budget_allocation(docs: DataFrame, budget: int = 100_000) -> DataFrame:
    """PL-18: temperature-scaled token-budget allocation — split a
    global training-token budget across sources with tau = 0.5
    sampling (weights proportional to sqrt of each source's token
    mass — the multilingual-pretraining rebalance of mBERT/XLM-R that
    upweights small sources without letting a giant one dominate),
    rounded to EXACT integer budgets by the largest-remainder
    (Hamilton) method so the per-source budgets sum to precisely
    ``budget``. Per source, also reports how many of its documents
    (in doc_id order) actually fit the allocation — the cut a
    sampling job would apply.

    Exactness: sqrt is IEEE exact-rounded (bit-identical
    cross-engine) and is immediately quantized to micro-units, so
    quota arithmetic is pure BIGINT: base = (budget * w) div (sum w),
    remainder ranks distribute the shortfall, ties on source name.
    The fit count is an integer running sum per source.

    Scale shape: the corpus collapses to (source, doc_id, n_tokens)
    in one pass; everything after runs on the |sources|-row table
    (broadcast totals, remainder window over |sources| rows); the fit
    leg is one in-partition cumulative sum over per-source metadata —
    document text never moves.
    """
    from pyspark.sql import Window

    from bigdata_logs_spark.operators.textops import with_tokens

    sized = with_tokens(docs).select(
        "source", "doc_id", F.size("tokens").cast("long").alias("n_tokens")
    )
    per_source = sized.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("source_tokens"),
    )
    ws = per_source.withColumn(
        "w_micro",
        F.round(F.sqrt(F.col("source_tokens").cast("double")) * 1e6).cast(
            "long"
        ),
    )
    den = ws.agg(F.sum("w_micro").alias("denom"))
    based = ws.crossJoin(F.broadcast(den)).select(
        "source",
        "n_docs",
        "source_tokens",
        "w_micro",
        F.expr(f"({budget}L * w_micro) div denom").alias("base"),
        F.expr(f"({budget}L * w_micro) % denom").alias("rem"),
    )
    tot = based.agg(F.sum("base").alias("base_total"))
    w_rem = Window.orderBy(F.desc("rem"), F.asc("source"))
    alloc = (
        based.crossJoin(F.broadcast(tot))
        .withColumn("rnk", F.row_number().over(w_rem))
        .select(
            "source",
            "n_docs",
            "source_tokens",
            "w_micro",
            (
                F.col("base")
                + F.when(
                    F.col("rnk") <= F.lit(budget) - F.col("base_total"), 1
                ).otherwise(0)
            ).alias("token_budget"),
        )
    )
    w_cum = Window.partitionBy("source").orderBy("doc_id")
    cum = sized.withColumn("cum", F.sum("n_tokens").over(w_cum))
    fit = (
        cum.join(
            F.broadcast(alloc.select("source", "token_budget")), "source"
        )
        .where(F.col("cum") <= F.col("token_budget"))
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_docs_fit"))
    )
    return (
        alloc.join(fit, "source", "left")
        .select(
            "source",
            "n_docs",
            "source_tokens",
            "w_micro",
            "token_budget",
            F.coalesce(F.col("n_docs_fit"), F.lit(0)).alias("n_docs_fit"),
        )
        .orderBy("source")
    )


def corpus_dedup_funnel(docs: DataFrame) -> DataFrame:
    """PL-20: the dedup funnel — documents and tokens surviving each
    successive dedup tier (raw -> byte-exact -> normalized-exact ->
    MinHash-LSH near-dup components), the one-table summary a
    pretraining run reports as "how much did dedup actually remove".

    Each tier keeps the minimum doc_id of its group among the PRIOR
    tier's survivors, so the funnel composes the already-certified
    DD-1/DD-16/DD-5 semantics rather than re-deriving them.

    Scale shape: one pass over narrow (doc_id, n_tok, raw_h, norm_h,
    component) rows — the two 128-bit digests and the token count
    come from a single corpus read, joined to the DD-8 component
    labels. Each tier is a ``min(doc_id) OVER (PARTITION BY key)``
    window restricted to the prior tier's keepers (keys raw_h, then
    norm_h, then component), so nothing is cached and no survivor id
    set is joined back. The trade-off is skew: one digest group (a
    boilerplate page copied a million times) or one giant component
    is one window partition, but of narrow rows, and the window
    spills. One global aggregate of conditional counts and sums then
    yields all four tiers, and ``inline`` turns it into the four
    result rows.
    """
    from pyspark.sql import Window

    from bigdata_logs_spark.operators import dedup as DD
    from bigdata_logs_spark.operators.textops import with_tokens

    comp = DD.near_dup_components(docs, threshold=0.5)
    tiers = (
        with_tokens(docs)
        .select(
            "doc_id",
            F.size("tokens").alias("n_tok"),
            F.md5(F.col("text")).alias("raw_h"),
            F.md5(DD.norm_text_col()).alias("norm_h"),
        )
        .join(comp, "doc_id")
        .withColumn("0_raw", F.lit(True))
    )
    prev = "0_raw"
    for stage, key in (
        ("1_exact", "raw_h"),
        ("2_normalized", "norm_h"),
        ("3_near_dup", "component"),
    ):
        first = F.min(F.when(F.col(prev), F.col("doc_id"))).over(
            Window.partitionBy(key)
        )
        tiers = tiers.withColumn(stage, F.col(prev) & (F.col("doc_id") == first))
        prev = stage
    rows = [
        F.struct(
            F.lit(stage).alias("stage"),
            F.count(F.when(F.col(stage), 1)).alias("n_docs"),
            F.sum(F.when(F.col(stage), F.col("n_tok"))).alias("n_tokens"),
        )
        for stage in ("0_raw", "1_exact", "2_normalized", "3_near_dup")
    ]
    return (
        tiers.agg(F.array(*rows).alias("rows"))
        .select(F.inline("rows"))
        .orderBy("stage")
    )


def epoch_shuffle_shards(
    docs: DataFrame, seed: str = "epoch1", n_shards: int = 8
) -> DataFrame:
    """PL-21: deterministic epoch shuffle + sharding — every document
    assigned a pseudo-random but SEEDED position (md5 of seed||id),
    split into ``n_shards`` shards; per shard the doc/token mass and
    the hash-order boundary docs. Changing the seed string reshuffles
    every epoch reproducibly — the property that makes a training
    run resumable and its data order auditable.

    Scale shape: the shuffle key is a narrow per-row expression; the
    shard summary is one combinable aggregation; boundary docs come
    from min/max structs, not a sort. A writer would
    repartitionByRange on the same key — same expression, no extra
    pass."""
    from bigdata_logs_spark.operators.textops import with_tokens

    h = F.expr(
        f"CAST(conv(substring(md5(concat('{seed}', ':', "
        f"CAST(doc_id AS STRING))), 1, 13), 16, 10) AS BIGINT)"
    )
    toks = with_tokens(docs).select(
        "doc_id", F.size("tokens").alias("n_tok")
    )
    keyed = toks.withColumn("h", h).withColumn(
        "shard", (F.col("h") % n_shards).cast("int")
    )
    return (
        keyed.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
            F.min(F.struct("h", "doc_id")).getField("doc_id").alias(
                "first_doc_id"
            ),
            F.max(F.struct("h", "doc_id")).getField("doc_id").alias(
                "last_doc_id"
            ),
        )
        .orderBy("shard")
    )


WSAMP_K = 100
WSAMP_SEED = "wsamp1"
_WSAMP_DENOM = float(1 << 52)


def weighted_sample(docs: DataFrame) -> DataFrame:
    """PL-22: deterministic weighted sampling without replacement
    (Efraimidis & Spirakis 2006, the A-ES one-pass scheme) — each
    document draws a seeded hash-uniform u in (0, 1] and competes
    with key ln(u)/w, w = n_chars; the top-k keys ARE an exact
    w-weighted sample without replacement. The importance-sampling
    primitive under every "oversample the long/high-quality docs"
    curation step — and unlike rand()-based sampling it is
    reproducible across runs, engines, and partitionings (PL-21's
    seeded-shuffle property, extended to WEIGHTED draws).

    Exactness: u = (h + 1) / 2^52 from the 52-bit md5 prefix (the
    PL-21 seed||id hash; +1 keeps u strictly positive), so ln(u) and
    the division by the integer weight are two mirrored IEEE ops on
    identical operands (ln is bit-identical cross-engine on
    identical doubles). Top-k is total-ordered (key desc, doc_id).

    Scale shape: the key is one narrow per-row expression — no
    shuffle until the top-k itself, which is TakeOrderedAndProject
    (per-partition heads, never a global sort). Changing the seed
    redraws the whole sample reproducibly."""
    h = F.expr(
        f"CAST(conv(substring(md5(concat('{WSAMP_SEED}', ':', "
        f"CAST(doc_id AS STRING))), 1, 13), 16, 10) AS BIGINT)"
    )
    u = (h + F.lit(1)).cast("double") / F.lit(_WSAMP_DENOM)
    key = F.log(u) / F.col("n_chars").cast("double")
    keyed = docs.select(
        "doc_id", "source", "n_chars", key.alias("es_key")
    )
    top = keyed.orderBy(F.desc("es_key"), F.asc("doc_id")).limit(WSAMP_K)
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("es_key"), F.asc("doc_id"))
    return top.select(
        F.row_number().over(w).cast("long").alias("sample_rank"),
        "doc_id",
        "source",
        "n_chars",
        F.round("es_key", 9).alias("es_key"),
    )

