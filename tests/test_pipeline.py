"""Training-pipeline operator invariants: deterministic splits,
stratified sampling, contamination, simhash banding recall, greedy
dedup policy, tf-idf ranking (SURVEY.md §2.11 / §5.2)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdata_logs_spark.operators.dedup import (
    near_dup_pairs,
    near_dup_survivors,
    simhash,
    simhash_near_dup,
)
from bigdata_logs_spark.operators.pipeline import (
    contamination_check,
    stratified_sample,
    train_val_test_split,
)
from bigdata_logs_spark.operators.textops import tfidf_top_terms


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    from bigdata_logs_spark.sources import load_table

    return load_table(spark, sf_dir, "documents").cache()


def test_split_is_total_and_partition_invariant(docs):
    sp = train_val_test_split(docs)
    assert sp.count() == docs.count()
    one = sorted(map(str, train_val_test_split(docs.repartition(1)).collect()))
    many = sorted(map(str, train_val_test_split(docs.repartition(7)).collect()))
    assert one == many
    # splits are disjoint by construction; buckets in range
    lo, hi = sp.select(F.min("bucket"), F.max("bucket")).first()
    assert 0 <= lo and hi <= 99


def test_split_membership_independent_of_other_rows(docs):
    """A doc's split never changes when the corpus grows — the
    incremental-ingest property RNG-based sampling lacks."""
    full = {r["doc_id"]: r["split"] for r in train_val_test_split(docs).collect()}
    half = {
        r["doc_id"]: r["split"]
        for r in train_val_test_split(
            docs.filter(F.col("doc_id") % 2 == 0)
        ).collect()
    }
    assert all(full[d] == s for d, s in half.items())


def test_stratified_sample_rates(docs):
    samp = stratified_sample(docs, rates={"en": 25}, default_rate=50)
    # every kept row obeys its language's bucket cutoff
    bad = samp.filter(
        (F.col("bucket") >= F.when(F.col("lang") == "en", 25).otherwise(50))
    ).count()
    assert bad == 0
    # subset of the corpus
    assert samp.count() <= docs.count()


def test_simhash_banding_recall_exact_for_hamming_3(docs, spark):
    """Pigeonhole: 4 bands x 8 bits — every pair within Hamming 3
    must share a band, so the banded join finds exactly the pairs the
    O(n^2) scan would."""
    sh = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    ids = sorted(sh)
    brute = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if sum(x != y for x, y in zip(sh[a], sh[b])) <= 3
    }
    banded = {
        (r["doc_a"], r["doc_b"]) for r in simhash_near_dup(docs).collect()
    }
    assert banded == brute


def test_near_dup_survivors_policy(docs):
    surv = {r["doc_id"] for r in near_dup_survivors(docs, threshold=0.5).collect()}
    pairs = near_dup_pairs(docs, threshold=0.5).collect()
    losers = {r["doc_b"] for r in pairs}
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    assert surv == all_ids - losers
    # the smallest id in any near-dup pair always survives
    assert all(r["doc_a"] in surv or r["doc_a"] in losers for r in pairs)


def test_contamination_only_flags_train_side(docs):
    cont = contamination_check(docs, benchmark_source="src9", k=4)
    flagged = cont.join(
        docs.select("doc_id", "source"), "doc_id"
    ).filter(F.col("source") == "src9")
    assert flagged.count() == 0
    assert cont.filter(F.col("n_contaminated_ngrams") <= 0).count() == 0


def test_tfidf_rank_and_bounds(docs):
    t = tfidf_top_terms(docs, k=5)
    # <= 5 terms per doc, ranks are 1..n with no gaps
    per_doc = t.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n"), F.max("rnk").alias("mx")
    )
    assert per_doc.filter((F.col("n") > 5) | (F.col("n") != F.col("mx"))).count() == 0
    # a term appearing in every doc has idf 0 => tfidf 0; scores never negative
    assert t.filter(F.col("tfidf") < 0).count() == 0


def test_components_merge_chains(docs):
    from bigdata_logs_spark.operators.dedup import near_dup_components

    comp = {r["doc_id"]: r["component"] for r in near_dup_components(docs).collect()}
    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in near_dup_pairs(docs, threshold=0.5).collect()
    ]
    # both endpoints of every verified pair land in the same component,
    # and the representative is the component's min id (fixpoint of
    # min-label propagation == transitive closure min)
    for a, b in pairs:
        assert comp[a] == comp[b]
    members: dict[int, list[int]] = {}
    for d, c in comp.items():
        members.setdefault(c, []).append(d)
    for c, ds in members.items():
        assert c == min(ds)
    # singletons are their own component
    paired = {x for p in pairs for x in p}
    assert all(comp[d] == d for d in comp if d not in paired)


def test_components_iteration_budget_counts_the_seeded_round(spark):
    """A chain 0-1-2-3-4 of 10-word windows shifted by 2 words: next
    neighbours share 6 of 10 distinct 3-word shingles (Jaccard 0.6),
    documents two apart 4 of 12 (0.33), so the near-dup graph is the
    path itself and its far end is 4 hops from its minimum. The seeded
    first round counts against ``max_iter``: 4 rounds converge to one
    component labelled 0, 3 raise."""
    from pyspark.sql import Row

    from bigdata_logs_spark.caching import release_caches
    from bigdata_logs_spark.operators.dedup import near_dup_components

    hops = 4
    words = [f"w{i}" for i in range(2 * hops + 10)]
    docs = spark.createDataFrame(
        [
            Row(doc_id=i, text=" ".join(words[2 * i : 2 * i + 10]))
            for i in range(hops + 1)
        ]
        + [Row(doc_id=hops + 1, text="an unrelated singleton document")]
    )
    pairs = {
        (r.doc_a, r.doc_b) for r in near_dup_pairs(docs, threshold=0.5).collect()
    }
    assert pairs == {(i, i + 1) for i in range(hops)}
    try:
        comp = near_dup_components(docs, max_iter=hops).collect()
        assert {(r.doc_id, r.component) for r in comp} == {
            *((i, 0) for i in range(hops + 1)),
            (hops + 1, hops + 1),
        }
        with pytest.raises(RuntimeError, match="did not converge"):
            near_dup_components(docs, max_iter=hops - 1)
    finally:
        release_caches()


def test_compact_parquet_preserves_data_and_reduces_files(
    spark, events, tmp_path
):
    import os

    from pyspark.sql import functions as F

    from bigdata_logs_spark.sources import compact_parquet, write_parquet

    store = str(tmp_path / "frag_store")
    # fragment: 6 small appends, date-partitioned
    dated = events.limit(600).withColumn(
        "date", F.date_format("ts", "yyyy-MM-dd")
    )
    for i in range(6):
        write_parquet(
            dated.filter(F.col("event_id") % 6 == i),
            store,
            mode="append",
            partition_by=("date",),
        )
    before_rows = sorted(map(str, spark.read.parquet(store).collect()))
    n_before = sum(
        1
        for _, _, fs in os.walk(store)
        for f in fs
        if f.endswith(".parquet")
    )

    n_after = compact_parquet(
        spark, store, target_files_per_partition=1, partition_by=("date",)
    )
    after_rows = sorted(map(str, spark.read.parquet(store).collect()))
    assert after_rows == before_rows, "compaction must be lossless"
    assert n_after < n_before, f"{n_after} !< {n_before}"
    # one file per date partition
    dates = {d for d in os.listdir(store) if d.startswith("date=")}
    assert n_after == len(dates)


def test_compact_parquet_fans_out_multiple_files_per_partition(
    spark, events, tmp_path
):
    import os

    from pyspark.sql import functions as F

    from bigdata_logs_spark.sources import compact_parquet, write_parquet

    store = str(tmp_path / "fan_store")
    dated = events.limit(400).withColumn(
        "date", F.date_format("ts", "yyyy-MM-dd")
    )
    write_parquet(dated, store, mode="overwrite", partition_by=("date",))
    n_after = compact_parquet(
        spark, store, target_files_per_partition=3, partition_by=("date",)
    )
    dates = [d for d in os.listdir(store) if d.startswith("date=")]
    # salt-driven fan-out: strictly more files than partitions, at
    # most 3 per partition (collisions may merge salt groups)
    assert n_after > len(dates)
    assert n_after <= 3 * len(dates)
    # partition-value inference types the read-back `date` as DATE;
    # cast to string so the row-level comparison is type-normalized
    got = sorted(
        map(
            str,
            spark.read.parquet(store)
            .withColumn("date", F.col("date").cast("string"))
            .collect(),
        )
    )
    want = sorted(map(str, dated.drop("date").withColumn("date", F.date_format("ts", "yyyy-MM-dd")).collect()))
    assert len(got) == 400
    assert got == want


def test_leakage_safe_split_never_splits_a_component(spark, sf_dir):
    from bigdata_logs_spark.operators.pipeline import (
        leakage_safe_split,
        train_val_test_split,
    )
    from bigdata_logs_spark.sources import load_table

    docs = load_table(spark, sf_dir, "documents")
    out = leakage_safe_split(docs).cache()
    # invariant: one split per component — the whole point
    assert (
        out.groupBy("component")
        .agg(F.countDistinct("split").alias("k"))
        .filter(F.col("k") > 1)
        .count()
        == 0
    )
    # compatibility: singleton components keep their PL-1 assignment
    pl1 = train_val_test_split(docs).select("doc_id", F.col("split").alias("s1"))
    singles = out.filter(F.col("component") == F.col("doc_id"))
    assert (
        singles.join(pl1, "doc_id")
        .filter(F.col("split") != F.col("s1"))
        .count()
        == 0
    )
    assert out.count() == docs.count()
    out.unpersist()
