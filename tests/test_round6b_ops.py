"""Late-round-6 operator invariants: explicit HLL (SK-4), explicit
Bloom membership (SK-5), robust trend (AGG-10), weighted median
(AGG-11), multiset EXCEPT/INTERSECT ALL (SET-4/5), Benford digits
(AD-10), k-core peeling (G-5), confusable usernames (T-24), KWIC
concordance (T-25), and inverted-index postings (PL-19) — hand
fixtures pin the semantics a mirrored-bug oracle cannot catch."""

from __future__ import annotations

from pyspark.sql import Row
from pyspark.sql import functions as F

from bigdata_logs_spark.operators import sketches as SK


def _ev(spark, rows):
    return spark.createDataFrame(
        [
            Row(
                event_id=i,
                user_id=u,
                event_type=t,
                value=float(v),
            )
            for i, (u, t, v) in enumerate(rows)
        ]
    )


class TestHllDistinct:
    def test_estimate_within_hll_error_bound(self, spark, events):
        out = SK.hll_distinct(events).collect()
        assert out, "no groups"
        for r in out:
            # m=64 -> standard error 1.04/8 = 13%; allow 4 sigma.
            assert abs(r.rel_error) <= 0.52, r
            assert r.hll_estimate > 0

    def test_partition_invariance(self, spark, events):
        base = {r.event_type: r.hll_estimate for r in SK.hll_distinct(events).collect()}
        rep = {
            r.event_type: r.hll_estimate
            for r in SK.hll_distinct(events.repartition(7)).collect()
        }
        assert base == rep

    def test_duplicates_do_not_move_the_estimate(self, spark):
        # HLL registers are MAXes: feeding every key 3x is a no-op.
        once = _ev(spark, [(u, "a", 1) for u in range(50)])
        thrice = _ev(spark, [(u, "a", 1) for u in range(50)] * 3)
        e1 = SK.hll_distinct(once).collect()[0]
        e3 = SK.hll_distinct(thrice).collect()[0]
        assert e1.hll_estimate == e3.hll_estimate
        assert e1.n_exact == e3.n_exact == 50


class TestBloomMembership:
    def test_no_false_negatives_on_testdata(self, spark, events):
        r = SK.bloom_membership(events).collect()[0]
        assert r.n_member_positives == r.n_members
        assert r.n_false_positives == r.n_positives - r.n_members
        assert r.n_set_bits <= min(SK.BLOOM_M, 4 * r.n_members)

    def test_all_members_probe_yields_no_fp_and_null_fpp(self, spark):
        ev = _ev(spark, [(u, "purchase", 1) for u in range(30)])
        r = SK.bloom_membership(ev).collect()[0]
        assert r.n_probes == r.n_members == 30
        assert r.n_false_positives == 0
        assert r.fpp_observed is None  # no non-members to misclassify


class TestRobustDailyTrend:
    def _ev_days(self, spark, counts, etype="a"):
        import datetime

        rows = []
        i = 0
        for day, n in enumerate(counts):
            for _ in range(n):
                rows.append(
                    Row(
                        event_id=i,
                        user_id=1,
                        event_type=etype,
                        value=1.0,
                        ts=datetime.datetime(2024, 1, 1 + day, 12, 0, 0),
                    )
                )
                i += 1
        return spark.createDataFrame(rows)

    def test_clean_linear_series(self, spark):
        from bigdata_logs_spark.operators import analytics as AN

        out = AN.robust_daily_trend(self._ev_days(spark, [1, 2, 3, 4, 5]))
        r = out.collect()[0]
        assert r.theil_sen_slope == 1.0
        assert r.mann_kendall_s == r.n_pairs == 10
        assert r.trend == "increasing"

    def test_one_wild_outlier_does_not_move_the_slope(self, spark):
        from bigdata_logs_spark.operators import analytics as AN

        # day 4 spikes to 50x: OLS slope would be dominated by it,
        # the pairwise median stays on the underlying +1/day trend.
        out = AN.robust_daily_trend(
            self._ev_days(spark, [1, 2, 3, 150, 5, 6, 7, 8, 9])
        )
        r = out.collect()[0]
        assert 0.5 <= r.theil_sen_slope <= 1.5
        assert r.trend == "increasing"


class TestWeightedMedian:
    def test_volume_outweighs_row_count(self, spark):
        from bigdata_logs_spark.operators import analytics as AN

        li = spark.createDataFrame(
            [
                Row(l_returnflag="A", l_extendedprice=1.0, l_quantity=98.0),
                Row(l_returnflag="A", l_extendedprice=100.0, l_quantity=1.0),
                Row(l_returnflag="A", l_extendedprice=1000.0, l_quantity=1.0),
            ]
        )
        r = AN.weighted_median_price(li).collect()[0]
        # 98 of 100 units are the cheap line: the weighted median is
        # its price, where the unweighted row median would say 100.
        assert r.weighted_median_price == 1.0
        assert r.total_weight == 100.0

    def test_half_total_boundary_picks_lower(self, spark):
        from bigdata_logs_spark.operators import analytics as AN

        li = spark.createDataFrame(
            [
                Row(l_returnflag="A", l_extendedprice=10.0, l_quantity=1.0),
                Row(l_returnflag="A", l_extendedprice=20.0, l_quantity=1.0),
            ]
        )
        r = AN.weighted_median_price(li).collect()[0]
        assert r.weighted_median_price == 10.0  # 2*cum == total qualifies


def _docs(spark, rows):
    return spark.createDataFrame(
        [
            Row(doc_id=i, lang="en", source="t", n_chars=len(t), text=t)
            for i, t in enumerate(rows)
        ]
    )


class TestBenford:
    def test_hand_digits(self, spark):
        from bigdata_logs_spark.operators import anomaly as AD

        orders = spark.createDataFrame(
            [
                Row(o_orderkey=i, o_totalprice=v)
                for i, v in enumerate([1.00, 19.99, 150.00, 90.50, 0.95])
            ]
        )
        out = {r.digit: r for r in AD.benford_first_digit(orders).collect()}
        # 1.00->100 cents->'1'; 19.99->1999->'1'; 150.00->15000->'1';
        # 90.50->9050->'9'; 0.95->95->'9'
        assert out[1].n_obs == 3 and out[9].n_obs == 2
        assert set(out) == {1, 9}
        assert abs(out[1].benford_p - 0.30103) < 1e-4
        assert all(r.chi2_term >= 0 for r in out.values())


class TestKCore:
    def test_path_graph_peels_to_empty(self, spark):
        from bigdata_logs_spark.operators import graph as G

        out = {
            r.round: r
            for r in G.token_graph_kcore(_docs(spark, ["a b c d e"])).collect()
        }
        assert out[0].n_nodes == 5 and out[0].n_edges == 4
        # every degree <= 2 < k=3: one peel empties the graph, and the
        # remaining fixed rounds are visible no-ops
        for rnd in (1, 2, 3, 4):
            assert out[rnd].n_nodes == 0 and out[rnd].n_edges == 0

    def test_survivors_monotone_on_testdata(self, spark, sf_dir):
        from bigdata_logs_spark.operators import graph as G
        from bigdata_logs_spark.sources import load_table

        out = sorted(
            G.token_graph_kcore(load_table(spark, sf_dir, "documents")).collect(),
            key=lambda r: r.round,
        )
        nodes = [r.n_nodes for r in out]
        assert nodes == sorted(nodes, reverse=True)


class TestConfusableUsernames:
    def test_hand_neighborhood(self, spark):
        from bigdata_logs_spark.operators import textops as TX

        parsed = spark.createDataFrame(
            [Row(user=u) for u in ["admin", "admln", "admin2", "bob", "admin"]]
        )
        out = {r.name: r for r in TX.confusable_usernames(parsed).collect()}
        assert out["admin"].n_confusables == 2  # admln (sub), admin2 (ins)
        assert out["admin"].n_attempts == 2
        assert out["admin"].first_neighbor == "admin2"
        assert out["admln"].n_confusables == 1
        assert "bob" not in out  # no neighbor within one keystroke


class TestKwic:
    def test_context_windows(self, spark):
        from bigdata_logs_spark.operators import textops as TX

        out = TX.kwic_concordance(
            _docs(spark, ["a b c d e a"]), top_terms=1
        ).collect()
        # 'a' wins the tie (2 occurrences); contexts clip at the edges
        assert [(r.pos, r.left_ctx, r.right_ctx) for r in out] == [
            (1, "", "b c"),
            (6, "d e", ""),
        ]


class TestInvertedIndex:
    def test_df_tf_and_postings(self, spark):
        from bigdata_logs_spark.operators import textops as TX

        out = {
            r.token: r
            for r in TX.inverted_index_postings(
                _docs(spark, ["x x y", "x z", "z q"])
            ).collect()
        }
        assert out["x"].df == 2 and out["x"].total_tf == 3
        assert out["x"].postings_head == "0,1"
        assert out["z"].postings_head == "1,2"


class TestNormalizationDedup:
    def test_reformatted_docs_merge(self, spark):
        from bigdata_logs_spark.operators import dedup as DD

        docs = _docs(
            spark,
            ["Hello, World!", "hello world", "hello  world ", "unique"],
        )
        r = DD.normalization_dedup(docs).collect()[0]
        assert r.n_docs == 4
        assert r.n_raw_distinct == 4
        assert r.n_norm_distinct == 2  # three hello-worlds collapse
        assert r.n_groups_merged_by_norm == 2


class TestBfsReachability:
    def test_path_graph_hops(self, spark):
        from bigdata_logs_spark.operators import graph as G

        out = {
            r.hop: r.n_new_nodes
            for r in G.bfs_reachability(_docs(spark, ["a b c d e"])).collect()
        }
        # degree tie among b/c/d breaks to 'b'; expansion 2,1,1 then dry
        assert out == {0: 1, 1: 2, 2: 1, 3: 1, 4: 0}


class TestKnnDiversity:
    def test_identical_neighbors_score_one(self, spark):
        from bigdata_logs_spark.operators import similarity as SIM

        rows = [Row(vec_id=0, embedding=[1.0, 0.0], label=0)]
        rows += [
            Row(vec_id=i, embedding=[0.0, float(i)], label=1)
            for i in range(1, 6)
        ]
        out = SIM.knn_diversity(
            spark.createDataFrame(rows), n_queries=1, k=5
        ).collect()
        assert len(out) == 1
        r = out[0]
        assert r.n_pairs == 10
        assert r.mean_pairwise_cosine == 1.0
        assert r.min_pairwise_cosine == 1.0


class TestModalProfile:
    def test_hand_mode_and_ties(self, spark):
        import datetime

        from bigdata_logs_spark.operators import analytics as AN

        # 2024-01-01 is a Monday -> dow 0 under the epoch+3 convention
        mk = lambda d, h: datetime.datetime(2024, 1, d, h, 0, 0)
        ev = spark.createDataFrame(
            [
                Row(event_id=0, event_type="a", ts=mk(1, 5)),
                Row(event_id=1, event_type="a", ts=mk(1, 5)),
                Row(event_id=2, event_type="a", ts=mk(2, 9)),
            ]
        )
        r = AN.modal_activity_profile(ev).collect()[0]
        assert r.modal_hour == 5 and r.n_at_modal_hour == 2
        assert r.modal_dow == 0 and r.n_at_modal_dow == 2


class TestHoltLinearTrend:
    def test_matches_python_recursion(self, spark):
        import datetime

        from bigdata_logs_spark.operators import analytics as AN

        counts = [3, 1, 4, 1, 5, 9, 2, 6]
        rows = []
        eid = 0
        for day, n in enumerate(counts):
            for _ in range(n):
                rows.append(
                    Row(
                        event_id=eid,
                        event_type="a",
                        ts=datetime.datetime(2024, 1, 1 + day, 12, 0, 0),
                    )
                )
                eid += 1
        r = AN.holt_linear_trend(spark.createDataFrame(rows)).collect()[0]
        l, b = float(counts[1]), float(counts[1] - counts[0])
        for y in counts[2:]:
            l_new = 0.5 * y + 0.5 * (l + b)
            b = 0.5 * (l_new - l) + 0.5 * b
            l = l_new
        assert r.level == round(l, 4)
        assert r.trend == round(b, 4)
        assert r.forecast_next == round(l + b, 4)

    def test_single_day_series_reports_null(self, spark):
        import datetime

        from bigdata_logs_spark.operators import analytics as AN

        ev = spark.createDataFrame(
            [Row(event_id=0, event_type="a",
                 ts=datetime.datetime(2024, 1, 1, 12, 0, 0))]
        )
        r = AN.holt_linear_trend(ev).collect()[0]
        assert r.n_days == 1
        assert r.level is None and r.trend is None and r.forecast_next is None


class TestStreamingCms:
    def test_batch_split_invariant_and_bounded(self, spark, sf_dir, tmp_path):
        """ST-15: the CMS counter state after a drain is bit-identical
        whether the feed arrives as one micro-batch or one file per
        micro-batch (counter addition is associative+commutative), and
        the state never exceeds d*w cells."""
        import os

        from bigdata_logs_spark.operators.ssh_synth import synthesize_ssh_lines
        from bigdata_logs_spark.sources import load_table
        from bigdata_logs_spark.streaming.ingest import (
            read_ssh_stream,
            streaming_cms_state,
        )

        src = str(tmp_path / "src")
        synthesize_ssh_lines(load_table(spark, sf_dir, "events")).repartition(
            4
        ).write.mode("overwrite").text(src)

        states = {}
        for label, mfpt in (("one_batch", None), ("per_file", 1)):
            state = str(tmp_path / f"state_{label}")
            progress = streaming_cms_state(
                read_ssh_stream(spark, src, max_files_per_trigger=mfpt), state
            )
            if mfpt:  # the split leg really summed counters across batches
                assert sum(p["numInputRows"] > 0 for p in progress) >= 2
            df = spark.read.parquet(state)
            assert df.count() <= 4 * 128
            states[label] = sorted(map(str, df.collect()))
            assert not os.path.exists(state + "__ckpt")
        assert states["one_batch"] == states["per_file"]


class TestCorpusDedupFunnel:
    def test_hand_tiers_remove_expected_docs(self, spark):
        from bigdata_logs_spark.operators import pipeline as PL

        long = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        docs = _docs(
            spark,
            [
                "same text here",        # 0: survivor
                "same text here",        # 1: byte dup of 0
                "Same,  text HERE!",     # 2: normalized dup of 0
                long,                    # 3: survivor
                long + " extra",         # 4: near-dup of 3 (high jaccard)
                "completely different words",  # 5: survivor
            ],
        )
        out = {r.stage: r for r in PL.corpus_dedup_funnel(docs).collect()}
        assert out["0_raw"].n_docs == 6
        assert out["1_exact"].n_docs == 5      # doc 1 drops
        assert out["2_normalized"].n_docs == 4  # doc 2 drops
        assert out["3_near_dup"].n_docs == 3    # doc 4 drops
        # token totals shrink monotonically with the doc totals
        toks = [out[s].n_tokens for s in sorted(out)]
        assert toks == sorted(toks, reverse=True)

    def test_jobs_carry_the_callers_description(self, spark):
        """Every job the funnel runs, in construction and in execution,
        carries the caller's description, and the caller's description
        is the same after the funnel as before."""
        from bigdata_logs_spark.caching import release_caches
        from bigdata_logs_spark.operators import pipeline as PL

        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        docs = _docs(spark, ["one two three", "one two three", "four five"])
        first_job = jsc.dagScheduler().nextJobId()
        sc.setJobDescription("caller")
        try:
            PL.corpus_dedup_funnel(docs).collect()
            assert sc.getLocalProperty("spark.job.description") == "caller"
        finally:
            sc.setJobDescription(None)
            release_caches()
        jsc.listenerBus().waitUntilEmpty(10_000)
        store = jsc.statusStore()
        descs = set()
        for jid in range(first_job, jsc.dagScheduler().nextJobId()):
            d = store.job(jid).description()
            descs.add(d.get() if d.isDefined() else None)
        assert descs == {"caller"}

    def test_every_failure_surfaces(self, spark):
        """A poisoned text column: the UDF's own error is raised from
        the funnel call, not swallowed or replaced."""
        import pytest
        from pyspark.sql.functions import udf

        from bigdata_logs_spark.caching import release_caches
        from bigdata_logs_spark.operators import pipeline as PL

        @udf("string")
        def poison(_):
            raise ValueError("poisoned text")

        docs = spark.range(3).select(
            F.col("id").alias("doc_id"), poison("id").alias("text")
        )
        try:
            with pytest.raises(Exception, match="ValueError: poisoned text"):
                PL.corpus_dedup_funnel(docs).collect()
        finally:
            release_caches()


class TestAmsF2:
    def test_single_key_estimator_is_exact(self, spark):
        from bigdata_logs_spark.operators import sketches as SK2

        ev = _ev(spark, [(7, "a", 1)] * 5)  # one key, count 5
        r = SK2.ams_f2_skew(ev).collect()[0]
        # every +/-1 estimator squares to exactly c^2 for one key
        assert r.f2_exact == 25 and r.ams_estimate == 25
        assert r.rel_error == 0.0

    def test_estimate_unbiasedness_shape_on_testdata(self, spark, events):
        from bigdata_logs_spark.operators import sketches as SK2

        for r in SK2.ams_f2_skew(events).collect():
            assert r.ams_estimate >= 0
            # median-of-8 stays within a loose constant factor of F2
            assert r.ams_estimate <= 10 * r.f2_exact


class TestBoxplot:
    def test_hand_quartiles_and_outlier(self, spark):
        from bigdata_logs_spark.operators import analytics as AN

        vals = [1, 2, 3, 4, 5, 6, 7, 8, 100]
        ev = _ev(spark, [(1, "a", v) for v in vals])
        r = AN.value_boxplot_stats(ev).collect()[0]
        assert (r.q1, r.median, r.q3) == (3.0, 5.0, 7.0)
        assert r.iqr == 4.0
        assert r.n_low_outliers == 0 and r.n_high_outliers == 1


class TestStreaks:
    def test_hand_runs_and_user_tiebreak(self, spark):
        import datetime

        from bigdata_logs_spark.operators import analytics as AN

        rows = []
        for i, (u, t) in enumerate(
            [(1, "a"), (1, "a"), (1, "a"), (1, "b"), (1, "a"),
             (2, "a"), (2, "a"), (2, "a")]
        ):
            rows.append(
                Row(
                    event_id=i,
                    user_id=u,
                    event_type=t,
                    ts=datetime.datetime(2024, 1, 1, 0, i, 0),
                )
            )
        out = {r.event_type: r for r in
               AN.longest_event_streaks(spark.createDataFrame(rows)).collect()}
        assert out["a"].max_streak == 3
        assert out["a"].user_id_at_max == 1  # tie with user 2 -> smaller id
        assert out["b"].max_streak == 1


class TestMmrRerank:
    def test_diverse_candidate_beats_redundant_twin(self, spark):
        from bigdata_logs_spark.operators import similarity as SIM

        # query sits between two orthogonal directions: the twin of
        # the first pick pays the full 1.0 similarity penalty, the
        # equally-relevant orthogonal candidate pays none
        emb = spark.createDataFrame(
            [
                Row(vec_id=0, embedding=[1.0, 1.0], label=0),
                Row(vec_id=1, embedding=[1.0, 0.0], label=0),
                Row(vec_id=2, embedding=[1.0, 0.0], label=0),
                Row(vec_id=3, embedding=[0.0, 1.0], label=1),
            ]
        )
        out = SIM.mmr_rerank(emb, n_queries=1, shortlist=3, select=2).collect()
        picks = [(r.select_rank, r.neighbor_id) for r in out]
        # rank 1: three-way cosine tie -> id tiebreak picks vec 1;
        # rank 2: the orthogonal vec 3 beats the identical twin vec 2
        assert picks == [(1, 1), (2, 3)]
        assert out[1].max_sim_selected == 0.0
        assert out[1].mmr_score > 0 > 0.5 * out[0].qcos - 0.5


class TestNearestEventJoin:
    def test_nearest_in_either_direction_and_window(self, spark):
        import datetime

        from bigdata_logs_spark.operators import joins as J

        mk = lambda m, s=0: datetime.datetime(2024, 1, 1, 12, m, s)
        rows = [
            # error at 12:10; purchases at 12:07 (180s back) and 12:12
            # (120s forward): the FORWARD one is nearer
            Row(event_id=0, user_id=1, event_type="error", ts=mk(10)),
            Row(event_id=1, user_id=1, event_type="purchase", ts=mk(7)),
            Row(event_id=2, user_id=1, event_type="purchase", ts=mk(12)),
            # error with purchase beyond the 1h window: unmatched
            Row(event_id=3, user_id=2, event_type="error", ts=mk(0)),
            Row(event_id=4, user_id=2, event_type="purchase",
                ts=datetime.datetime(2024, 1, 1, 14, 0, 0)),
        ]
        out = {r.gap_bucket: r.n for r in
               J.nearest_event_join(spark.createDataFrame(rows)).collect()}
        assert out == {"60-300s": 1, "unmatched": 1}


class TestWeeklyPctChange:
    def test_hand_growth(self, spark):
        import datetime

        from bigdata_logs_spark.operators import analytics as AN

        rows = []
        eid = 0
        # week of Mon 2024-01-01: 4 events; next week: 6 events
        for day, n in ((1, 4), (8, 6)):
            for _ in range(n):
                rows.append(
                    Row(event_id=eid, event_type="a", user_id=1,
                        ts=datetime.datetime(2024, 1, day, 10, 0, 0))
                )
                eid += 1
        out = sorted(
            AN.weekly_pct_change(spark.createDataFrame(rows)).collect(),
            key=lambda r: r.week_idx,
        )
        assert out[0].prev_n is None and out[0].wow_pct is None
        assert out[1].prev_n == 4 and out[1].wow_pct == 0.5
        assert out[1].week_idx == out[0].week_idx + 1


class TestBehavioralEntropy:
    def test_uniform_vs_single_type_users(self, spark):
        from bigdata_logs_spark.operators import analytics as AN

        rows = [(1, t, 1) for t in ("a", "b", "c", "d")]  # uniform: ln 4
        rows += [(2, "a", 1)] * 4                          # single type: 0
        out = AN.behavioral_entropy(_ev(spark, rows)).collect()
        by_bucket = {r.bucket: r for r in out}
        import math

        hi = int(round(math.log(4) * 1e6)) // 100000  # 1.386 nats -> 13
        assert by_bucket[0].n_users == 1
        assert by_bucket[0].avg_entropy_nats == 0.0
        assert by_bucket[hi].n_users == 1
        assert abs(by_bucket[hi].avg_entropy_nats - math.log(4)) < 1e-5


class TestTopValueDaysWithTies:
    def test_rank_keeps_tied_days(self, spark):
        import datetime

        from bigdata_logs_spark.operators import analytics as AN

        def ev(eid, day, v):
            return Row(event_id=eid, user_id=1, event_type="a",
                       ts=datetime.datetime(2024, 1, day, 10, 0, 0),
                       value=float(v))

        rows = [
            ev(0, 1, 5), ev(1, 1, 5),   # day 1 total 10
            ev(2, 2, 10),               # day 2 total 10 (tie at rank 1)
            ev(3, 3, 7),                # day 3 total 7 -> rank 3
            ev(4, 4, 1),                # day 4 total 1 -> rank 4, cut
        ]
        out = AN.top_value_days_with_ties(
            spark.createDataFrame(rows)
        ).collect()
        got = [(r.rnk, r.date, r.total_value) for r in out]
        # RANK() semantics: BOTH tied days kept at rank 1, next rank 3.
        assert got == [
            (1, "2024-01-01", 10.0),
            (1, "2024-01-02", 10.0),
            (3, "2024-01-03", 7.0),
        ]


class TestCumulativeUniqueUsers:
    def test_first_seen_rewrite(self, spark):
        import datetime

        from bigdata_logs_spark.operators import analytics as AN

        def ev(eid, day, u):
            return Row(event_id=eid, user_id=u, event_type="a",
                       ts=datetime.datetime(2024, 1, day, 10, 0, 0),
                       value=1.0)

        # day1: users 1,2 (new: 2); day2: user 1 again (new: 0);
        # day3: users 2,3 (new: 1)
        rows = [ev(0, 1, 1), ev(1, 1, 2), ev(2, 2, 1),
                ev(3, 3, 2), ev(4, 3, 3)]
        out = AN.cumulative_unique_users(
            spark.createDataFrame(rows)
        ).collect()
        got = [(r.date, r.n_new, r.cum_users) for r in out]
        assert got == [
            ("2024-01-01", 2, 2),
            ("2024-01-02", 0, 2),  # zero-new day still on the spine
            ("2024-01-03", 1, 3),
        ]
        # terminal cum == total distinct users
        assert got[-1][2] == 3


class TestTrimmedMeanValue:
    def test_five_pct_trim_boundaries(self, spark):
        from bigdata_logs_spark.operators import analytics as AN

        # 20 rows, values 1..20: lo = 20*5 div 100 = 1 row trimmed
        # from each end -> keep ranks 2..19 i.e. values 2..19.
        rows = [(1, "a", v) for v in range(1, 21)]
        r = AN.trimmed_mean_value(_ev(spark, rows)).collect()[0]
        assert r.n_total == 20
        assert r.n_kept == 18
        assert r.trimmed_mean == sum(range(2, 20)) / 18  # 10.5

    def test_outlier_resistance(self, spark):
        from bigdata_logs_spark.operators import analytics as AN

        clean = [(1, "a", v) for v in range(1, 21)]
        spiked = clean[:-1] + [(1, "a", 1_000_000.0)]
        m_clean = AN.trimmed_mean_value(_ev(spark, clean)).collect()[0]
        m_spiked = AN.trimmed_mean_value(_ev(spark, spiked)).collect()[0]
        # the spike lands in the trimmed top tail; the mean barely moves
        assert abs(m_spiked.trimmed_mean - m_clean.trimmed_mean) < 1.0


class TestEpochShuffleShards:
    def test_conservation_and_determinism(self, spark):
        from bigdata_logs_spark.operators import pipeline as PL
        from bigdata_logs_spark.sources import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        n_docs = docs.count()
        a = PL.epoch_shuffle_shards(docs).collect()
        b = PL.epoch_shuffle_shards(docs).collect()
        assert a == b, "same seed must give the identical shuffle"
        assert sum(r.n_docs for r in a) == n_docs
        assert {r.shard for r in a} <= set(range(8))

    def test_reseeding_reshuffles(self, spark):
        from bigdata_logs_spark.operators import pipeline as PL
        from bigdata_logs_spark.sources import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        e1 = PL.epoch_shuffle_shards(docs, seed="epoch1").collect()
        e2 = PL.epoch_shuffle_shards(docs, seed="epoch2").collect()
        # different epoch seed -> different boundary docs somewhere
        assert [(r.first_doc_id, r.last_doc_id) for r in e1] != [
            (r.first_doc_id, r.last_doc_id) for r in e2
        ]
