"""Round-7 ledger completion: fixture-value tests for the six
late-round-6 operators that shipped without pytest coverage —
value Gini (AGG-16), rolling DAU/WAU stickiness (W-16), association
rules (AGG-17), Markov stationary mass (G-7), two-proportion drift
(AD-11), and embedding drift (E-22). Each pins the semantics against
a pure-Python reference a mirrored-bug oracle cannot catch."""

from __future__ import annotations

import datetime as dt
import math

from pyspark.sql import Row

from bigdata_logs_spark.operators import analytics as AN
from bigdata_logs_spark.operators import anomaly as AD
from bigdata_logs_spark.operators import graph as G
from bigdata_logs_spark.operators import similarity as SIM


def _ev(spark, rows):
    """rows: (user_id, event_type, value, day_offset)."""
    base = dt.datetime(2024, 1, 1, 12, 0, 0)
    return spark.createDataFrame(
        [
            Row(
                event_id=i,
                ts=base + dt.timedelta(days=d, minutes=i),
                user_id=u,
                event_type=t,
                value=float(v),
            )
            for i, (u, t, v, d) in enumerate(rows)
        ]
    )


class TestValueGini:
    def test_matches_pure_python_rank_form(self, spark):
        vals = [1.0, 2.0, 3.0, 10.0, 50.0]
        df = _ev(spark, [(u, "a", v, 0) for u, v in enumerate(vals)])
        out = AN.value_gini(df).collect()
        assert len(out) == 1 and out[0].n_events == len(vals)
        cents = sorted(int(round(v * 100)) for v in vals)
        n, s = len(cents), sum(cents)
        rs = sum((i + 1) * x for i, x in enumerate(cents))
        want = (2 * rs - (n + 1) * s) / (n * s)
        assert abs(out[0].gini - round(want, 6)) < 1e-9

    def test_equal_values_gini_zero_and_partition_invariance(self, spark):
        df = _ev(spark, [(u, "a", 7.5, 0) for u in range(40)])
        assert AN.value_gini(df).collect()[0].gini == 0.0
        big = _ev(
            spark, [(u % 9, "ab"[u % 2], (u * 37) % 101 + 1, 0) for u in range(200)]
        )
        base = sorted(map(tuple, AN.value_gini(big).collect()))
        rep = sorted(map(tuple, AN.value_gini(big.repartition(7)).collect()))
        assert base == rep


class TestRollingActiveUsers:
    def test_matches_brute_force_count_distinct(self, spark):
        # users with gaps longer and shorter than the 7-day window,
        # including a user whose presence intervals must merge.
        rows = []
        presence = {1: [0, 1, 9], 2: [0, 20], 3: [3, 4, 5], 4: [15]}
        for u, days in presence.items():
            for d in days:
                rows.append((u, "a", 1.0, d))
        out = {
            r.date: (r.dau, r.wau, r.stickiness)
            for r in AN.rolling_active_users(_ev(spark, rows)).collect()
        }
        base = dt.date(2024, 1, 1)
        all_days = sorted({d for ds in presence.values() for d in ds})
        for day in all_days:
            dau = sum(1 for ds in presence.values() if day in ds)
            wau = sum(
                1
                for ds in presence.values()
                if any(day - 6 <= d <= day for d in ds)
            )
            key = (base + dt.timedelta(days=day)).isoformat()
            assert out[key][0] == dau, key
            assert out[key][1] == wau, key
            assert abs(out[key][2] - round(dau / wau, 6)) < 1e-9
        # report rows exist ONLY for presence days (DAU >= 1 rows);
        # covered-but-silent days belong to the WAU leg alone.
        assert set(out) == {
            (base + dt.timedelta(days=d)).isoformat() for d in all_days
        }


class TestAssociationRules:
    def test_hand_computed_support_confidence_lift(self, spark):
        # baskets: u1={a,b}, u2={a,b}, u3={a}, u4={b,c}, u5={c}
        baskets = {1: "ab", 2: "ab", 3: "a", 4: "bc", 5: "c"}
        rows = [
            (u, t, 1.0, 0) for u, ts in baskets.items() for t in ts
        ] * 2  # duplicate events: baskets are DISTINCT (user, type)
        out = {
            (r.antecedent, r.consequent): r
            for r in AN.association_rules(_ev(spark, rows)).collect()
        }
        ab = out[("a", "b")]
        assert ab.n_ab == 2
        assert abs(ab.support - 0.4) < 1e-9  # 2 of 5 users
        assert abs(ab.confidence - round(2 / 3, 6)) < 1e-9  # 2 of 3 a-users
        assert abs(ab.lift - round((2 * 5) / (3 * 3), 6)) < 1e-9
        ba = out[("b", "a")]
        assert ba.n_ab == 2 and abs(ba.confidence - round(2 / 3, 6)) < 1e-9
        # (a, c) co-occurs in zero baskets -> filtered by min support
        assert ("a", "c") not in out


class TestMarkovStationary:
    def test_mass_concentrates_on_absorbing_state(self, spark):
        # every user: a -> b -> b -> b ... : stationary mass goes to b
        rows = []
        for u in range(10):
            rows.append((u, "a", 1.0, 0))
            for k in range(4):
                rows.append((u, "b", 1.0, k + 1))
        out = G.markov_stationary(_ev(spark, rows)).collect()
        by_t = {r.event_type: r for r in out}
        assert by_t["b"].mass_scaled > by_t["a"].mass_scaled
        assert by_t["a"].mass_scaled == 0  # nothing transitions INTO a
        total_share = sum(r.share for r in out)
        assert abs(total_share - 1.0) < 1e-4

    def test_partition_invariance(self, spark, events):
        base = sorted(map(tuple, G.markov_stationary(events).collect()))
        rep = sorted(
            map(tuple, G.markov_stationary(events.repartition(7)).collect())
        )
        assert base == rep


class TestTwoProportionDrift:
    def test_matches_pure_python_z(self, spark):
        # half 1 = days 0..5, half 2 = days 6..11 (midpoint on epoch
        # days); type "a" shrinks, type "b" grows.
        rows = []
        for d in range(6):
            rows += [(1, "a", 1.0, d)] * 8 + [(2, "b", 1.0, d)] * 2
        for d in range(6, 12):
            rows += [(1, "a", 1.0, d)] * 2 + [(2, "b", 1.0, d)] * 8
        out = {r.event_type: r for r in AD.two_proportion_drift(_ev(spark, rows)).collect()}
        t1 = t2 = 60
        for t, n1, n2 in (("a", 48, 12), ("b", 12, 48)):
            p1, p2 = n1 / t1, n2 / t2
            pp = (n1 + n2) / (t1 + t2)
            z = (p1 - p2) / math.sqrt(pp * (1 - pp) * (1 / t1 + 1 / t2))
            r = out[t]
            assert (r.n1, r.n2) == (n1, n2)
            assert abs(r.z - round(z, 4)) < 1e-9
            assert r.significant == (abs(z) > 1.96)
        assert out["a"].z > 0 > out["b"].z


class TestEmbeddingDrift:
    def test_shifted_dimension_leads_the_report(self, spark):
        # dim 1 shifts by +1 between parity cohorts; dim 0 static.
        emb = spark.createDataFrame(
            [
                Row(
                    vec_id=i,
                    embedding=[0.5, 1.0 + (i % 2) * 1.0, float(i % 3) * 0.0],
                    label=0,
                )
                for i in range(20)
            ]
        )
        out = SIM.embedding_drift(emb).collect()
        assert out[0].dim == 1
        assert abs(out[0].shift - 1.0) < 1e-9
        assert abs(out[0].mean_even - 1.0) < 1e-9
        assert abs(out[0].mean_odd - 2.0) < 1e-9
        static = {r.dim: r.shift for r in out}
        assert static.get(0, 0.0) == 0.0


class TestGlobalRanked:
    def test_matches_single_window_rank(self, spark):
        from pyspark.sql import Window
        from pyspark.sql import functions as F

        from bigdata_logs_spark.operators.analytics import global_ranked

        rows = [(i, "abc"[i % 3], float((i * 37) % 11)) for i in range(300)]
        df = spark.createDataFrame(rows, "event_id long, event_type string, value double")
        got = {
            (r.event_type, r.event_id): (r.rn, r.n)
            for r in global_ranked(
                df, "event_type", ("value", "event_id")
            ).collect()
        }
        w = Window.partitionBy("event_type").orderBy("value", "event_id")
        wp = Window.partitionBy("event_type")
        want = {
            (r.event_type, r.event_id): (r.rn, r.n)
            for r in df.withColumn("rn", F.row_number().over(w))
            .withColumn("n", F.count(F.lit(1)).over(wp))
            .collect()
        }
        assert got == want


class TestValueLorenzDeciles:
    def test_matches_python_reference(self, spark):
        rows = [(u, "a", float(u + 1), 0) for u in range(20)]
        out = AN.value_lorenz_deciles(_ev(spark, rows)).collect()
        assert [r.decile for r in out] == list(range(10))
        cents = sorted(int(round((u + 1) * 100)) for u in range(20))
        total = sum(cents)
        # 20 users -> 2 per decile, ranked ascending
        cum = 0.0
        for r in out:
            dc = sum(cents[r.decile * 2 : r.decile * 2 + 2])
            assert r.n_users == 2
            assert abs(r.decile_value - round(dc / 100, 2)) < 1e-9
            assert abs(r.value_share - round(dc / total, 6)) < 1e-6
            cum += dc
            assert abs(r.cum_value_share - round(cum / total, 6)) < 1e-6
        assert abs(out[-1].cum_value_share - 1.0) < 1e-9

    def test_null_user_rows_excluded(self, spark):
        # NULL user_id rows must not enter the decile table: the rank
        # tiebreak orders by user_id, where Spark (NULLS FIRST) and
        # DuckDB (NULLS LAST) disagree — the operator filters them on
        # both engines, so a NULL user tying on cents can't flip the
        # cross-engine hash. A NULL row with a huge value must leave
        # every decile identical to the no-NULL run.
        rows = [(u, "a", float(u + 1), 0) for u in range(20)]
        base = AN.value_lorenz_deciles(_ev(spark, rows)).collect()
        with_null = AN.value_lorenz_deciles(
            _ev(spark, rows + [(None, "a", 9999.0, 0)])
        ).collect()
        assert [tuple(r) for r in with_null] == [tuple(r) for r in base]


class TestBm25TopK:
    def test_matches_python_reference(self, spark):
        import math

        from bigdata_logs_spark.operators.textops import bm25_topk

        # 30 docs; token t{j} appears in docs with doc_id % (j+2) == 0,
        # giving a strictly decreasing df ladder over j.
        texts = []
        for i in range(30):
            toks = []
            for j in range(16):
                if i % (j + 2) == 0:
                    toks += [f"t{j:02d}"] * (1 + (i + j) % 3)
            texts.append(" ".join(toks) if toks else "filler")
        docs = spark.createDataFrame(
            [
                (i, t, "en", f"src{i % 3}", len(t))
                for i, t in enumerate(texts)
            ],
            "doc_id long, text string, lang string, source string, n_chars long",
        )
        out = bm25_topk(docs).collect()

        # pure-python replay
        tok = [t.split() if t.strip() else [] for t in texts]
        tf = [{} for _ in range(30)]
        for i, ts in enumerate(tok):
            for t in ts:
                tf[i][t] = tf[i].get(t, 0) + 1
        df_t = {}
        for i in range(30):
            for t in tf[i]:
                df_t[t] = df_t.get(t, 0) + 1
        n_docs, total_dl = 30, sum(len(ts) for ts in tok)
        ranked = sorted(df_t.items(), key=lambda kv: (-kv[1], kv[0]))
        qterms = {
            t: round(math.log(n_docs + 1) * 1e6) - round(math.log(d + 1) * 1e6)
            for t, d in ranked[9:12]
        }
        scores = {}
        for i in range(30):
            dl = len(tok[i])
            for t, idf in qterms.items():
                if t in tf[i]:
                    s = (idf * tf[i][t]) * 2.25 / (
                        tf[i][t]
                        + 1.25 * (0.25 + 0.75 * (dl / (total_dl / n_docs)))
                    )
                    scores.setdefault(i, [0, 0])
                    scores[i][0] += 1
                    scores[i][1] += round(s)
        want = sorted(
            ((i, n, s) for i, (n, s) in scores.items()),
            key=lambda x: (-x[2], x[0]),
        )[:10]
        got = [(r.doc_id, r.n_terms_matched, r.bm25_micro) for r in out]
        assert got == [(i, n, s) for i, n, s in want]


class TestKnnLabelAccuracy:
    def test_perfect_clusters_score_one(self, spark):
        from bigdata_logs_spark.operators.similarity import knn_label_accuracy

        rows = []
        for i in range(32):
            label = i // 8
            base = [0.02 * (i % 8)] * 4
            base[label] = 1.0
            rows.append((i, [float(x) for x in base], label))
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int"
        )
        out = knn_label_accuracy(emb).collect()
        assert len(out) == 4
        for r in out:
            assert r.n_queries == 1  # vec_ids 0, 8, 16, 24
            assert r.n_correct == 1 and r.accuracy == 1.0


class TestLabelClusterQuality:
    def _emb(self, spark, shift=0.0):
        from pyspark.sql import Row

        rows = []
        for i in range(24):
            label = i % 2
            center = 0.4 if label else -0.4
            jitter = 0.001 * (i // 2)
            rows.append(
                Row(
                    vec_id=i,
                    embedding=[center + jitter + shift, center - jitter + shift],
                    label=label,
                )
            )
        return spark.createDataFrame(rows)

    def test_separated_clusters_and_translation_invariance(self, spark):
        from bigdata_logs_spark.operators.similarity import (
            label_cluster_quality,
        )

        out = label_cluster_quality(self._emb(spark)).collect()
        assert {r.label for r in out} == {0, 1}
        for r in out:
            assert r.nearest_label == 1 - r.label
            assert r.db_component < 0.2  # tight, far-apart clusters
            assert r.scatter < 0.05
        moved = label_cluster_quality(self._emb(spark, shift=0.25)).collect()
        assert sorted(map(tuple, moved)) == sorted(map(tuple, out))


class TestPcaTopComponent:
    def test_dominant_axis_and_translation_invariance(self, spark):
        from pyspark.sql import Row

        from bigdata_logs_spark.operators.similarity import pca_top_component

        def emb(shift=0.0):
            rows = []
            for i in range(40):
                t = (i - 20) / 40.0
                rows.append(
                    Row(
                        vec_id=i,
                        embedding=[
                            t + shift,
                            0.01 * ((i * 7) % 5 - 2) + shift,
                            0.01 * ((i * 3) % 5 - 2) + shift,
                        ],
                        label=0,
                    )
                )
            return spark.createDataFrame(rows)

        out = pca_top_component(emb()).collect()
        assert [r.dim for r in out] == [0, 1, 2]
        loads = {r.dim: abs(r.loading_micro) for r in out}
        # the max-norm renormalization divides by floor(M / SCALE),
        # so the dominant loading lands in [SCALE, SCALE * (1 + 1/M))
        assert loads[0] == max(loads.values())
        assert 1_000_000 <= loads[0] < 1_010_000
        assert loads[1] < 100_000 and loads[2] < 100_000
        assert out[0].var_share > 0.9
        moved = pca_top_component(emb(shift=0.2)).collect()
        assert sorted(map(tuple, moved)) == sorted(map(tuple, out))


def test_streaming_hll_state_split_and_replay_invariant(spark, sf_dir, tmp_path):
    """ST-16: the drained HLL register state is bit-identical whether
    the feed arrives as one micro-batch, one file per micro-batch, or
    with every line REPLAYED (MAX-merge is idempotent — the stronger
    guarantee ST-15's counters don't have). Also pins bounded state
    (<= 64 register rows)."""
    import os

    from bigdata_logs_spark.operators.ssh_synth import synthesize_ssh_lines
    from bigdata_logs_spark.sources import load_table
    from bigdata_logs_spark.streaming.ingest import (
        read_ssh_stream,
        streaming_hll_state,
    )

    lines = synthesize_ssh_lines(load_table(spark, sf_dir, "events"))
    src = str(tmp_path / "src")
    lines.repartition(4).write.mode("overwrite").text(src)
    src_replay = str(tmp_path / "src_replay")
    lines.unionAll(lines).coalesce(3).write.mode("overwrite").text(src_replay)

    states = {}
    for label, source, mfpt in (
        ("one_batch", src, None),
        ("per_file", src, 1),
        ("replayed", src_replay, 1),
    ):
        state = str(tmp_path / f"state_{label}")
        progress = streaming_hll_state(
            read_ssh_stream(spark, source, max_files_per_trigger=mfpt), state
        )
        if mfpt:  # the split and replayed legs really merged across batches
            assert sum(p["numInputRows"] > 0 for p in progress) >= 2
        df = spark.read.parquet(state)
        assert df.count() <= 64
        states[label] = sorted(map(str, df.collect()))
        assert not os.path.exists(state + "__ckpt")
    assert states["one_batch"] == states["per_file"] == states["replayed"]
