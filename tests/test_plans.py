"""Physical-plan regression tests: the scale properties SURVEY.md §4
promises must be visible in the plans Catalyst actually produces —
pushdown, column pruning, broadcast joins, distributed top-k,
whole-stage codegen. A correctness-preserving edit that silently
degrades one of these (e.g. a lost filter pushdown) fails here, not
in a 100 TB incident."""

from __future__ import annotations

import pytest

from bigdata_logs_spark.registry import REGISTRY


@pytest.fixture(scope="module", autouse=True)
def _uncached(spark):
    # other modules cache input tables; a cached relation replaces the
    # parquet scan (InMemoryRelation) and hides pushdown/pruning nodes
    spark.catalog.clearCache()
    yield


def _plan(spark, name, sf_dir) -> str:
    df = REGISTRY[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def test_star_join_broadcasts_dimensions(spark, sf_dir):
    plan = _plan(spark, "top_revenue_customers", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_topk_is_distributed_not_global_sort(spark, sf_dir):
    plan = _plan(spark, "ssh_latest_events", sf_dir)
    assert "TakeOrderedAndProject" in plan


def test_equality_filter_pushes_down_to_scan(spark, sf_dir):
    plan = _plan(spark, "events_of_type", sf_dir)
    assert "PushedFilters: [" in plan
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any("event_type" in l for l in pushed)


def test_lang_stats_prunes_text_column(spark, sf_dir):
    plan = _plan(spark, "doc_stats_by_lang", sf_dir)
    read = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert read and all("text" not in l for l in read)


def test_parse_path_is_codegenned(spark, sf_dir):
    plan = _plan(spark, "ssh_parse_full", sf_dir)
    # formatted mode marks whole-stage-codegen membership per node
    assert "[codegen id :" in plan


def test_minhash_has_partial_aggregation(spark, sf_dir):
    # map-side partial min before the (doc_id, band) exchange —
    # min(string) uses SortAggregate (string agg buffers aren't
    # mutable-row types), but the partial/final split is what bounds
    # the shuffle to n_bands rows per doc
    plan = _plan(spark, "minhash_signatures", sf_dir)
    assert plan.count("HashAggregate") + plan.count("SortAggregate") >= 2
    assert "CartesianProduct" not in plan


def test_knn_broadcasts_queries(spark, sf_dir):
    # the intended nested loop: tiny query set broadcast, corpus never
    # shuffles
    plan = _plan(spark, "knn_brute_force", sf_dir)
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


@pytest.mark.parametrize(
    "name",
    ["entity_profile", "event_type_counts", "regional_revenue"],
)
def test_no_cartesian_products_anywhere(spark, sf_dir, name):
    assert "CartesianProduct" not in _plan(spark, name, sf_dir)


def test_split_is_shuffle_free_narrow_projection(spark, sf_dir):
    # deterministic split assignment must run at scan speed: no
    # Exchange, no join, no aggregation anywhere in the plan (the
    # final orderBy is presentation-only in the registry query, but
    # even it must not introduce a hash/range shuffle of data before
    # sort) — check the pre-sort subtree by asserting no hash exchange
    plan = _plan(spark, "train_val_test_split", sf_dir)
    assert "hashpartitioning" not in plan
    assert "Join" not in plan
    assert "HashAggregate" not in plan


def test_quantize_broadcasts_stats_never_explodes_code_path(spark, sf_dir):
    # the per-dim stats (64 rows) come back via broadcast; the
    # quantization itself must be a narrow transform over the corpus
    # (no sort-merge join, no shuffle of the full vectors)
    plan = _plan(spark, "embedding_quantize", sf_dir)
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_embedding_near_dup_has_no_corpus_nested_loop(spark, sf_dir):
    # candidates come from exact angular cell pruning: the member
    # pairing must be equi-joins on the cell key — the only nested
    # loop allowed is the tiny n_cells × n_cells centroid-pair table
    plan = _plan(spark, "embedding_near_dup", sf_dir)
    assert "CartesianProduct" not in plan
    # corpus-side joins are hash joins on the cell key
    assert "hashpartitioning(cell" in plan or "BroadcastHashJoin" in plan
    # the all-pairs shape would put the vec_a < vec_b inequality in a
    # BroadcastNestedLoopJoin over the full embeddings scan; after the
    # rework any BNLJ node may only pair centroid rows (cells), never
    # vec ids
    for block in plan.split("\n\n"):
        if "BroadcastNestedLoopJoin" in block and "vec_a" in block:
            raise AssertionError(
                "corpus-wide nested loop back in embedding_near_dup:\n" + block
            )


def test_packing_is_sharded_no_join_no_global_sort_before_agg(spark, sf_dir):
    # token packing must stay n_shards parallel window streams: no
    # join anywhere, and the only exchanges are the shard hash
    # partitioning (+ the presentation sort's range partitioning)
    plan = _plan(spark, "pack_token_budget", sf_dir)
    assert "Join" not in plan
    keys = [l for l in plan.splitlines() if "hashpartitioning(" in l]
    assert keys and all("shard" in l for l in keys)


def test_incremental_near_dup_never_pairs_old_with_old(spark, sf_dir):
    plan = _plan(spark, "incremental_near_dup", sf_dir)
    assert "CartesianProduct" not in plan
    # candidates come from the (band, sig) equi-join
    assert "hashpartitioning(band" in plan or "BroadcastHashJoin" in plan


def test_contamination_joins_hashes_not_text(spark, sf_dir):
    # only (doc_id, md5) pairs may shuffle; the text column must be
    # pruned away before any exchange
    plan = _plan(spark, "contamination_check", sf_dir)
    assert "CartesianProduct" not in plan
    # formatted mode: partition keys live on "Arguments: hashpartitioning(...)"
    keys = [l for l in plan.splitlines() if "hashpartitioning(" in l]
    assert keys, "expected hash exchanges for the gram join/agg"
    assert all("text" not in l for l in keys)


def test_survivors_use_anti_join(spark, sf_dir):
    plan = _plan(spark, "near_dup_survivors", sf_dir)
    assert "LeftAnti" in plan


def test_bucketed_join_is_exchange_free(spark, sf_dir):
    # both sides bucketed on the join key at write time: the
    # sort-merge join must read the buckets directly, with zero
    # exchanges between the scans and the join
    plan = _plan(spark, "bucketed_order_revenue", sf_dir)
    assert "SortMergeJoin" in plan
    assert plan.count("Bucketed: true") == 2
    join_pos = plan.find("SortMergeJoin")
    scan_pos = plan.find("Scan parquet")
    assert join_pos != -1 and scan_pos != -1
    # formatted mode lists nodes top-down: any exchange feeding the
    # join would appear as an Exchange node whose id sits between the
    # join and its scans in the tree header; simplest robust check —
    # no hashpartitioning on the join keys at all
    keys = [l for l in plan.splitlines() if "hashpartitioning(" in l]
    assert all("orderkey" not in l for l in keys)


def test_store_single_day_query_prunes_partitions(spark, sf_dir):
    # the date filter must land in PartitionFilters (metadata-only
    # pruning), not as a row-level post-scan filter
    plan = _plan(spark, "store_pruned_day", sf_dir)
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and any("2024-01-03" in l for l in pf)


def test_asof_join_shuffles_once_no_range_join(spark, sf_dir):
    # union + windowed running-last: exactly one hash exchange (the
    # user key), and no nested-loop/cartesian range expansion
    plan = _plan(spark, "asof_last_signup_before_error", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    keys = {
        l.strip() for l in plan.splitlines() if "hashpartitioning(user_id" in l
    }
    assert keys, "expected the per-user window exchange"


def test_sessionization_single_user_shuffle(spark, sf_dir):
    # gaps-and-islands must be one hash exchange on the user key (the
    # window and both aggregations reuse that partitioning)
    plan = _plan(spark, "user_sessions", sf_dir)
    keys = [l for l in plan.splitlines() if "hashpartitioning(" in l]
    assert keys and all("user_id" in l for l in keys)
    assert "CartesianProduct" not in plan


def test_funnel_is_single_aggregation_no_join(spark, sf_dir):
    plan = _plan(spark, "funnel_conversion", sf_dir)
    assert "Join" not in plan


def test_kmeans_update_no_corpus_expansion(spark, sf_dir):
    # seeds collapse to ONE broadcast row; the corpus must not be
    # cross-joined k-fold or cartesian-expanded, and assignment stays
    # a narrow per-row expression
    plan = _plan(spark, "kmeans_centroid_update", sf_dir)
    assert "CartesianProduct" not in plan
    # the only join is the single-row seeds broadcast — the corpus
    # side must never shuffle into a join
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    tree_joins = [
        l for l in plan.splitlines() if "Join" in l and ("+-" in l or ":-" in l)
    ]
    assert len(tree_joins) == 1 and "BroadcastNestedLoopJoin" in tree_joins[0]


def test_zorder_key_bit_interleave_is_exact(spark):
    """z(3,5): x=0b11 -> bits 0,2 (=5); y=0b101 -> bits 1,5 (=34);
    plus known corners."""
    from bigdata_logs_spark.functions import zorder_key

    row = spark.range(1).select(
        zorder_key("0", "0").alias("z00"),
        zorder_key("1", "0").alias("z10"),
        zorder_key("0", "1").alias("z01"),
        zorder_key("3", "5").alias("z35"),
        zorder_key("65535", "65535").alias("zmax"),
    ).first()
    assert (row.z00, row.z10, row.z01) == (0, 1, 2)
    assert row.z35 == 39
    assert row.zmax == (1 << 32) - 1


def test_zorder_write_produces_two_dimensional_tiles(spark, sf_dir, tmp_path):
    """The point of S-14: files written in z-key order cover a narrow
    range of BOTH interleaved dimensions, so parquet footer min/max
    stats prune predicates on either column. A single-column sort
    gives narrow files in that column only — the other dimension
    spans ~the full range per file."""
    from pyspark.sql import functions as F

    from bigdata_logs_spark.functions import zorder_key
    from bigdata_logs_spark.sources import load_table
    from bigdata_logs_spark.sources.io import ZORDER_X_SQL, ZORDER_Y_SQL

    events = load_table(spark, sf_dir, "events")
    z = (
        events.select(
            F.expr(ZORDER_X_SQL).alias("xb"),
            F.expr(ZORDER_Y_SQL).alias("yb"),
            zorder_key(ZORDER_X_SQL, ZORDER_Y_SQL).alias("zkey"),
        )
    )
    out = str(tmp_path / "zsorted")
    (
        z.repartitionByRange(4, "zkey")
        .sortWithinPartitions("zkey")
        .write.option("maxRecordsPerFile", 64)
        .parquet(out)
    )

    per_file = (
        spark.read.parquet(out)
        .groupBy(F.input_file_name().alias("f"))
        .agg(
            (F.max("xb") - F.min("xb")).alias("x_span"),
            (F.max("yb") - F.min("yb")).alias("y_span"),
        )
        .agg(F.avg("x_span").alias("x"), F.avg("y_span").alias("y"))
        .first()
    )
    glob = z.agg(
        (F.max("xb") - F.min("xb")).alias("x"),
        (F.max("yb") - F.min("yb")).alias("y"),
    ).first()
    # each file is a tile: mean span well under half the global range
    # in BOTH dimensions simultaneously
    assert per_file.x < 0.5 * glob.x, (per_file.x, glob.x)
    assert per_file.y < 0.5 * glob.y, (per_file.y, glob.y)


def test_scoped_verify_gates_gram_explode_behind_semi_join(
    spark, sf_dir, monkeypatch
):
    """Forced over the size threshold, near_dup_pairs' verify stage
    must read grams from a candidate-scoped semi join (the 100 TB
    plan: no second full-corpus explode); under it, no semi join."""
    from bigdata_logs_spark.operators import dedup as DD
    from bigdata_logs_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")

    def plan_of() -> str:
        df = DD.near_dup_pairs(docs)
        return df._jdf.queryExecution().optimizedPlan().toString()

    monkeypatch.setattr(DD, "SCOPE_VERIFY_MIN_BYTES", 1)
    assert "LeftSemi" in plan_of()
    monkeypatch.setattr(DD, "SCOPE_VERIFY_MIN_BYTES", 1 << 40)
    assert "LeftSemi" not in plan_of()


def test_price_outliers_broadcast_stats_never_shuffle_on_segment(spark, sf_dir):
    """AD-3's 5-row median/MAD tables must come back as broadcasts —
    a hash/range repartition of raw prices on the 5-value segment key
    would serialize the corpus through 5 tasks at scale."""
    plan = _plan(spark, "order_price_outliers", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_drift_report_is_single_agg_plus_broadcast_totals(spark, sf_dir):
    """AD-4: exactly one pass over the fact table (one partial_count
    family over events) and a 1-row broadcast for the totals — the
    contingency table must not rescan events."""
    import re

    plan = _plan(spark, "event_type_drift", sf_dir)
    # formatted plans mention each node twice (tree + detail section)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "Join" not in plan  # totals via k-row window, no rescan
    assert "CartesianProduct" not in plan


def test_random_projection_is_narrow_before_presentation_sort(spark, sf_dir):
    """E-10 is a per-row expression: no aggregation, no join; the only
    exchange allowed is the final presentation orderBy."""
    import re

    plan = _plan(spark, "embedding_random_projection", sf_dir)
    assert "Join" not in plan
    assert "HashAggregate" not in plan
    assert "hashpartitioning" not in plan  # no compute shuffle
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 1  # orderBy only


def test_commonness_join_is_token_keyed_no_nested_loop_over_corpus(spark, sf_dir):
    """T-12's vocab join back must be an equi-join on token (shuffle
    or broadcast hash), never a nested loop; the only BNL allowed is
    the 1-row corpus-total broadcast."""
    import re

    plan = _plan(spark, "commonness_scores", sf_dir)
    assert "CartesianProduct" not in plan
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) <= 1
    assert ("SortMergeJoin" in plan) or ("BroadcastHashJoin" in plan) or (
        "ShuffledHashJoin" in plan
    )


def test_ssh_detector_filter_stays_above_the_spread_exchange(
    spark, sf_dir, monkeypatch
):
    """The pushdown barrier must keep filters on parsed fields (and
    the extractor chain they drag along) on the PARALLEL side of the
    spread repartition — pushed below it, the whole parse serializes
    through the single-split scan task (the 6x regression this
    pins). The sf0.001 fixture is under the spread bytes gate, so
    force the spread on to exercise the barrier."""
    from bigdata_logs_spark.functions import columns as C
    from bigdata_logs_spark.registry import REGISTRY

    if spark.sparkContext.defaultParallelism < 4:
        pytest.skip("spread never fires on a near-single-slot session")
    monkeypatch.setattr(C, "SPREAD_MIN_BYTES", 1)
    monkeypatch.setattr(C, "_SPREAD_MEMO", {})
    df = REGISTRY["brute_force_ips"].fn(spark, sf_dir)
    lines = (
        df._jdf.queryExecution().optimizedPlan().toString().splitlines()
    )
    filter_idx = [i for i, l in enumerate(lines) if "Filter" in l]
    repart_idx = [i for i, l in enumerate(lines) if "Repartition" in l]
    assert filter_idx and repart_idx
    # top-down tree print: every Filter line above every Repartition
    assert max(filter_idx) < min(repart_idx)


def test_pq_codes_is_shuffle_free_broadcast_codebook(spark, sf_dir):
    """E-13's 'zero shuffles' claim: the encode plan may exchange only
    to build/broadcast the one-row codebook; the corpus side must be
    a narrow projection (no hash-partitioned exchange, no sort)."""
    plan = _plan(spark, "pq_codes", sf_dir)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "hashpartitioning" not in plan
    assert "CartesianProduct" not in plan


def test_pq_adc_uses_topk_not_global_sort(spark, sf_dir):
    plan = _plan(spark, "pq_adc_topk", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "hashpartitioning" not in plan  # broadcast LUT, narrow scan


def test_cms_estimate_join_is_broadcast(spark, sf_dir):
    """SK-1: the counter table must broadcast back for the estimate
    join — a shuffle join on (row, bucket) would repartition the
    distinct-key table twice for a 512-cell build side."""
    plan = _plan(spark, "cms_heavy_hitters", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_textrank_iterations_broadcast_rank_vector(spark, sf_dir):
    """G-1: every Jacobi iteration joins the cached edge list against
    the vocabulary-sized rank vector as a broadcast — none of the
    three iteration joins may shuffle the graph side."""
    plan = _plan(spark, "textrank_keywords", sf_dir)
    assert plan.count("BroadcastHashJoin") >= 6  # contrib + label join x3
    assert "SortMergeJoin" not in plan


def test_truncation_fidelity_narrow_three_group_shuffle(spark, sf_dir):
    """E-16: per-row energy folds are narrow; the only exchange is the
    3-group aggregate (plus AQE reads) — no join machinery at all."""
    plan = _plan(spark, "embedding_truncation_fidelity", sf_dir)
    for op in ("Join", "CartesianProduct", "Window"):
        assert op not in plan


@pytest.mark.parametrize(
    "name",
    [
        # round-6 additions: every join-bearing new query must stay
        # cartesian-free (single-row broadcast cross joins plan as
        # BroadcastNestedLoopJoin over a 1-row build side, which is
        # the accepted totals/codebook pattern — not CartesianProduct)
        "dashboard_render_all",
        "pmi_bigrams",
        "lm_doc_scores",
        "minhash_containment",
        "token_graph_triangles",
        "kmv_set_ops",
        "ivfpq_adc_topk",
        "winnowing_overlap",
        "semantic_dedup",
        "token_budget_allocation",
        "scd2_asof_enrichment",
        # late round-6 additions (the MMR/kNN shortlist ops use the
        # documented broadcast-query crossJoin, exercised separately)
        "confusable_usernames",
        "robust_daily_trend",
        "weighted_median_price",
        "nearest_event_join",
        "corpus_dedup_funnel",
        "token_graph_kcore",
        "bfs_reachability",
        "inverted_index_postings",
        "ams_f2_skew",
        "longest_event_streaks",
    ],
)
def test_round6_queries_have_no_cartesian(spark, sf_dir, name):
    assert "CartesianProduct" not in _plan(spark, name, sf_dir)


def test_pmi_broadcasts_the_unigram_legs(spark, sf_dir):
    """T-21's two unigram joins and the totals join must all be
    broadcast at test scale — the bigram table is the only large
    relation and must never be the build side of a shuffle join."""
    plan = _plan(spark, "pmi_bigrams", sf_dir)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_ivfpq_scan_reads_codes_not_floats(spark, sf_dir):
    """E-18's final scored scan must be driven by the broadcast LUT
    row (1-row build side), with the corpus side carrying only codes:
    a TakeOrdered/window top-k, never a global sort of raw vectors."""
    plan = _plan(spark, "ivfpq_adc_topk", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan


def test_bloom_probe_join_is_broadcast(spark, sf_dir):
    """SK-5's probe leg must join the <=1024-row bit set as a
    broadcast build side — the exact shape a bloom-pruned shuffle
    join relies on."""
    plan = _plan(spark, "bloom_membership", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_kwic_term_list_is_broadcast(spark, sf_dir):
    """T-25 joins the top-k term list into the posexplode stream as a
    broadcast — the corpus-side occurrences must never shuffle to
    meet a 3-row relation."""
    plan = _plan(spark, "kwic_concordance", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_nearest_event_join_is_user_keyed(spark, sf_dir):
    """J-17's range predicate must ride a user_id equi-join (hash or
    sort-merge), never degrade to a nested-loop over the event
    table."""
    plan = _plan(spark, "nearest_event_join", sf_dir)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan

