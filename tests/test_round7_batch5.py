"""Round-7 batch-5 operators: fixture-value tests against pure-Python
references for the streaming Bloom filter (ST-18), tokenizer fertility
(T-30), capacity forecast (OPS-4), and rank movers (D-55)."""

from __future__ import annotations

import datetime as dt
import math

from pyspark.sql import Row

from bigdata_logs_spark.operators import analytics as AN
from bigdata_logs_spark.operators import textops as TX

BASE = dt.datetime(2024, 1, 1, 12, 0, 0)


def _ev(spark, rows):
    """rows: (user_id, event_type, value, day_offset)."""
    return spark.createDataFrame(
        [
            Row(
                event_id=i,
                ts=BASE + dt.timedelta(days=d, minutes=i),
                user_id=u,
                event_type=t,
                value=float(v),
            )
            for i, (u, t, v, d) in enumerate(rows)
        ]
    )


def _docs(spark, texts, langs=None):
    return spark.createDataFrame(
        [
            Row(
                doc_id=i,
                text=t,
                lang=(langs[i] if langs else "en"),
                source="s0",
                n_chars=len(t),
            )
            for i, t in enumerate(texts)
        ]
    )


class TestTokenizerFertility:
    def test_hand_counted_fertility(self, spark):
        # "don't stop 123" -> words: 3; BPE-ish: don,',t,stop,123 = 5;
        # chars (no space): don't(5) + stop(4) + 123(3) = 12
        out = TX.tokenizer_fertility(
            _docs(spark, ["don't stop 123"])
        ).collect()
        assert len(out) == 1
        r = out[0]
        assert (r.n_words, r.n_subtokens) == (3, 5)
        assert r.fertility == round(5 / 3, 4)
        assert r.chars_per_subtoken == round(12 / 5, 4)

    def test_empty_text_reports_null(self, spark):
        out = TX.tokenizer_fertility(
            _docs(spark, ["", "abc def"], langs=["xx", "en"])
        ).collect()
        by = {r.lang: r for r in out}
        assert by["xx"].fertility is None
        assert by["en"].fertility == 1.0


class TestCapacityForecast:
    def test_matches_pure_python_ols(self, spark):
        counts = [10, 12, 14, 16, 18, 20]  # slope exactly 2
        rows = [
            (u, "a", 1.0, d) for d, c in enumerate(counts) for u in range(c)
        ]
        out = AN.capacity_forecast(_ev(spark, rows)).collect()
        assert len(out) == 1
        r = out[0]
        assert r.n_days == 6 and r.peak_daily == 20
        assert r.slope_per_day == 2.0
        assert r.level_now == 20.0
        assert r.forecast_7d == 20.0 + 7 * 2.0
        assert r.capacity_line == 30.0
        assert r.days_to_capacity == 5.0  # (30 - 20) / 2

    def test_declining_series_has_null_days(self, spark):
        counts = [20, 16, 12, 8]
        rows = [
            (u, "a", 1.0, d) for d, c in enumerate(counts) for u in range(c)
        ]
        r = AN.capacity_forecast(_ev(spark, rows)).collect()[0]
        assert r.slope_per_day < 0
        assert r.days_to_capacity is None


class TestRankMovers:
    def test_rank_swap_between_weeks(self, spark):
        # week 0 (days 0-6): a busier than b; week 1 (days 7-13): b
        # overtakes a.
        rows = (
            [(u, "a", 1.0, 0) for u in range(5)]
            + [(u, "b", 1.0, 1) for u in range(3)]
            + [(u, "a", 1.0, 7) for u in range(2)]
            + [(u, "b", 1.0, 8) for u in range(6)]
        )
        # day 0 of week 0 for BASE: epoch day of 2024-01-01 = 19723;
        # 19723 div 7 = 2817.57 -> week boundary not at day 0, so use
        # enough spacing that both days of each pair land in one week.
        out = AN.rank_movers(_ev(spark, rows)).collect()
        weeks = sorted({r.week_start for r in out})
        by = {(r.week_start, r.event_type): r for r in out}
        # first observed week: no previous rank
        w0 = [r for r in out if r.week_start == weeks[0]]
        assert all(r.prev_rank is None for r in w0)
        # in every week ranks are 1..n_types_that_week with tiebreaks
        for w in weeks:
            ranks = sorted(r.rank for r in out if r.week_start == w)
            assert ranks == list(range(1, len(ranks) + 1))
        # b's total in its later week exceeds a's -> b rank 1, moved up
        last = weeks[-1]
        if ("2024-01-08"[:4], "b") and (last, "b") in by:
            b = by[(last, "b")]
            a = by[(last, "a")]
            assert b.rank < a.rank

    def test_partition_invariant(self, spark):
        rows = [
            (u, "ab"[u % 2], 1.0, d) for d in range(21) for u in range(d + 1)
        ]
        df = _ev(spark, rows)
        x = sorted(map(tuple, AN.rank_movers(df).collect()))
        y = sorted(map(tuple, AN.rank_movers(df.repartition(6)).collect()))
        assert x == y


def test_streaming_bloom_split_and_replay_invariant(spark, sf_dir, tmp_path):
    """ST-18: the drained Bloom bit set equals the batch construction
    and is bit-identical whether the feed arrives as one micro-batch,
    one file per micro-batch, or fully REPLAYED (bit-set union is
    idempotent). Also pins bounded state (<= 1024 rows) and the
    no-false-negative direction: every batch-computed bit is present."""
    import os

    from pyspark.sql import functions as F

    from bigdata_logs_spark.operators.parse import parse_ssh_lines
    from bigdata_logs_spark.operators.sketches import (
        BLOOM_A,
        BLOOM_B,
        BLOOM_M,
        CMS_P,
        kmv_hash_expr,
    )
    from bigdata_logs_spark.operators.ssh_synth import synthesize_ssh_lines
    from bigdata_logs_spark.sources import load_table
    from bigdata_logs_spark.streaming.ingest import (
        read_ssh_stream,
        streaming_bloom_state,
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
        progress = streaming_bloom_state(
            read_ssh_stream(spark, source, max_files_per_trigger=mfpt), state
        )
        if mfpt:  # the split and replayed legs really merged across batches
            assert sum(p["numInputRows"] > 0 for p in progress) >= 2
        df = spark.read.parquet(state)
        assert df.count() <= BLOOM_M
        states[label] = sorted(r.bit for r in df.collect())
        assert not os.path.exists(state + "__ckpt")
    assert states["one_batch"] == states["per_file"] == states["replayed"]

    h = F.expr(kmv_hash_expr("ip"))
    pos = F.array(
        *[
            ((h * F.lit(a) + F.lit(b)) % CMS_P % BLOOM_M)
            for a, b in zip(BLOOM_A, BLOOM_B)
        ]
    )
    batch_bits = sorted(
        r.bit
        for r in parse_ssh_lines(spark.read.text(src))
        .where(F.col("ip").isNotNull())
        .select(F.explode(pos).alias("bit"))
        .distinct()
        .collect()
    )
    assert states["one_batch"] == batch_bits


class TestCharClassProfileArrow:
    def test_hand_counted_classes_match_native_twin(self, spark):
        from pyspark.sql import functions as F

        texts = ["Ab1 c!", "  ", "123", "no digits here"]
        df = spark.createDataFrame(
            [
                Row(doc_id=i, text=t, lang="en", source="s0", n_chars=len(t))
                for i, t in enumerate(texts)
            ]
        )
        out = {r.doc_id: r for r in TX.char_class_profile_arrow(df).collect()}
        # "Ab1 c!": 6 chars, 3 alpha, 1 digit, 1 space, 1 other
        assert tuple(out[0])[1:] == (6, 3, 1, 1, 1)
        assert tuple(out[1])[1:] == (2, 0, 0, 2, 0)
        assert tuple(out[2])[1:] == (3, 0, 3, 0, 0)
        # Arrow path must equal the equivalent native expressions
        native = df.select(
            "doc_id",
            F.length("text").cast("long").alias("n_chars"),
            F.length(
                F.regexp_replace("text", "[^A-Za-z]", "")
            ).cast("long").alias("n_alpha"),
        ).collect()
        for r in native:
            assert out[r.doc_id].n_chars == r.n_chars
            assert out[r.doc_id].n_alpha == r.n_alpha


class TestWeekdayEffectAnova:
    def test_matches_pure_python_anova(self, spark):
        ep0 = (dt.date(2024, 1, 1) - dt.date(1970, 1, 1)).days
        counts = []
        for d in range(28):
            dow = (ep0 + d + 4) % 7
            counts.append(4 + (8 if dow == 6 else 0) + d % 2)
        rows = [
            (u, "a", 1.0, d) for d, c in enumerate(counts) for u in range(c)
        ]
        out = AN.capacity_forecast  # silence linter for AN import reuse
        r = __import__(
            "bigdata_logs_spark.operators.anomaly", fromlist=["x"]
        ).weekday_effect_anova(_ev(spark, rows)).collect()[0]

        groups: dict[int, list[int]] = {}
        for d, c in enumerate(counts):
            groups.setdefault((ep0 + d + 4) % 7, []).append(c)
        n = len(counts)
        s = sum(counts)
        q = sum(c * c for c in counts)
        sbq = sum(
            round(sum(g) * sum(g) / len(g) * 1e6) for g in groups.values()
        )
        sb_raw = sbq / 1e6
        sst = q - s * s / n
        ssb = sb_raw - s * s / n
        ssw = q - sb_raw
        k = len(groups)
        want_f = (ssb / (k - 1)) / (ssw / (n - k))
        assert r.n_days == n and r.k_groups == k
        assert abs(r.f_stat - round(want_f, 4)) < 1e-9
        assert abs(r.eta_sq - round(ssb / sst, 4)) < 1e-9
        # strong weekly signal -> large effect
        assert r.eta_sq > 0.5

    def test_constant_series_null_f(self, spark):
        rows = [(u, "a", 1.0, d) for d in range(14) for u in range(5)]
        r = __import__(
            "bigdata_logs_spark.operators.anomaly", fromlist=["x"]
        ).weekday_effect_anova(_ev(spark, rows)).collect()[0]
        # zero within AND between variance -> NULL F, NULL eta^2
        assert r.f_stat is None and r.eta_sq is None


class TestSurvivalChurnCurve:
    def test_matches_pure_python_km(self, spark):
        # users with staggered lifetimes; horizon = day 30; censor
        # window 7 days -> users last seen after day 23 are censored.
        spans = [  # (user, first_day, last_day)
            (1, 0, 2),   # churned, t=2
            (2, 0, 2),   # churned, t=2
            (3, 1, 6),   # churned, t=5
            (4, 0, 10),  # churned, t=10
            (5, 2, 26),  # censored, t=24
            (6, 0, 30),  # censored, t=30 (defines horizon)
        ]
        rows = []
        for i, (u, f, l) in enumerate(spans):
            rows.append((u, "a", 1.0, f))
            rows.append((u, "a", 1.0, l))
        df = _ev(spark, rows)
        out = {r.t_days: r for r in
               __import__("bigdata_logs_spark.operators.analytics",
                          fromlist=["x"]).survival_churn_curve(df).collect()}

        import math

        lifetimes = [(l - f, 1 if l > 30 - 7 else 0) for _, f, l in spans]
        ts = sorted({t for t, _ in lifetimes})
        cumh = 0
        cumk = 0
        for t in ts:
            d = sum(1 for x, c in lifetimes if x == t and c == 0)
            cns = sum(1 for x, c in lifetimes if x == t and c == 1)
            n = sum(1 for x, _ in lifetimes if x >= t)
            r = out[t]
            assert (r.n_at_risk, r.n_churned, r.n_censored) == (n, d, cns)
            cumh += round(d / n * 1e6)
            assert abs(r.cum_hazard - round(cumh / 1e6, 6)) < 1e-9
            if d < n:
                cumk += round(math.log((n - d) / n) * 1e6)
            assert abs(r.km_ln_survival - round(cumk / 1e6, 6)) < 1e-9
        # survival is monotonically non-increasing where defined
        lnS = [out[t].km_ln_survival for t in ts]
        assert all(b <= a + 1e-12 for a, b in zip(lnS, lnS[1:]))

    def test_partition_invariant(self, spark):
        rows = [
            (u, "a", 1.0, (u * 3) % 15) for u in range(40)
        ] + [(u, "a", 1.0, (u * 7) % 28) for u in range(40)]
        df = _ev(spark, rows)
        a = sorted(map(tuple, __import__(
            "bigdata_logs_spark.operators.analytics", fromlist=["x"]
        ).survival_churn_curve(df).collect()))
        b = sorted(map(tuple, __import__(
            "bigdata_logs_spark.operators.analytics", fromlist=["x"]
        ).survival_churn_curve(df.repartition(9)).collect()))
        assert a == b


class TestBurrowsDelta:
    def test_clone_sources_have_smaller_delta_than_distinct(self, spark):
        # s0/s1 are stylistic clones (same function-word rates);
        # s2 writes differently.
        a = "the cat and the dog and the bird went to the house"
        b = "the sun and the moon and the star went to the sky"
        c = "quantum flux meters recalibrate seventeen novel isotopes"
        rows = []
        for i in range(6):
            rows.append(("s0", a + f" x{i}"))
            rows.append(("s1", b + f" y{i}"))
            rows.append(("s2", c + f" z{i}"))
        df = spark.createDataFrame(
            [
                Row(doc_id=i, text=t, lang="en", source=s, n_chars=len(t))
                for i, (s, t) in enumerate(rows)
            ]
        )
        out = {(r.source_a, r.source_b): r.delta
               for r in TX.burrows_delta(df).collect()}
        assert set(out) == {("s0", "s1"), ("s0", "s2"), ("s1", "s2")}
        assert out[("s0", "s1")] < out[("s0", "s2")]
        assert out[("s0", "s1")] < out[("s1", "s2")]

    def test_partition_invariant(self, spark):
        texts = [f"common words fill {i} and the {i % 3} more" for i in range(30)]
        df = spark.createDataFrame(
            [
                Row(doc_id=i, text=t, lang="en",
                    source=f"s{i % 4}", n_chars=len(t))
                for i, t in enumerate(texts)
            ]
        )
        x = sorted(map(tuple, TX.burrows_delta(df).collect()))
        y = sorted(map(tuple, TX.burrows_delta(df.repartition(7)).collect()))
        assert x == y


class TestUserResurrections:
    def test_gap_rule_and_share(self, spark):
        # u1 active day 0, silent 14+ days, back day 20 (resurrected);
        # u2 active days 0, 5 (gap < 14, not resurrected);
        # u3 only day 20 (first sighting: never resurrected).
        rows = [
            (1, "a", 1.0, 0),
            (1, "a", 1.0, 20),
            (1, "a", 1.0, 20),  # same-day dup must not double-count
            (2, "a", 1.0, 0),
            (2, "a", 1.0, 5),
            (3, "a", 1.0, 20),
        ]
        out = {r.day: r for r in AN.user_resurrections(_ev(spark, rows)).collect()}
        d20 = out["2024-01-21"]
        assert (d20.n_active_users, d20.n_resurrected) == (2, 1)
        assert d20.resurrection_share == 0.5
        assert out["2024-01-01"].n_resurrected == 0
        assert out["2024-01-06"].n_resurrected == 0

    def test_partition_invariant(self, spark):
        rows = [
            (u % 7, "a", 1.0, (u * 5) % 40) for u in range(80)
        ]
        df = _ev(spark, rows)
        a = sorted(map(tuple, AN.user_resurrections(df).collect()))
        b = sorted(map(tuple, AN.user_resurrections(df.repartition(9)).collect()))
        assert a == b


class TestDedupTierAgreement:
    def test_exact_clones_agree_across_tiers(self, spark):
        from bigdata_logs_spark.operators import dedup as DD

        base = "the quick brown fox jumps over the lazy dog again and again"
        texts = [f"unique filler doc {i} with tokens {i*3} {i*11} {i*17} end"
                 for i in range(20)]
        texts += [base, base]  # exact clone pair: all three tiers fire
        df = spark.createDataFrame(
            [
                Row(doc_id=i, text=t, lang="en", source="s0", n_chars=len(t))
                for i, t in enumerate(texts)
            ]
        )
        out = {(r.tier_a, r.tier_b): r
               for r in DD.dedup_tier_agreement(df).collect()}
        assert set(out) == {
            ("exact", "minhash"),
            ("exact", "simhash"),
            ("minhash", "simhash"),
        }
        em = out[("exact", "minhash")]
        # the clone pair is in every tier
        assert em.n_a >= 1 and em.n_common >= 1
        assert em.pair_jaccard is not None and em.pair_jaccard > 0
        # pair_jaccard = common / union for every row
        for r in out.values():
            union = r.n_a + r.n_b - r.n_common
            if union > 0:
                assert abs(r.pair_jaccard - round(r.n_common / union, 4)) < 1e-9

    def test_partition_invariant(self, spark):
        from bigdata_logs_spark.operators import dedup as DD

        texts = [f"doc {i} shared words {i % 4} tail" for i in range(24)]
        texts += ["dup dup dup dup dup"] * 3
        df = spark.createDataFrame(
            [
                Row(doc_id=i, text=t, lang="en", source="s0", n_chars=len(t))
                for i, t in enumerate(texts)
            ]
        )
        a = sorted(map(tuple, DD.dedup_tier_agreement(df).collect()))
        b = sorted(
            map(tuple, DD.dedup_tier_agreement(df.repartition(7)).collect())
        )
        assert a == b


class TestMediaByteEntropy:
    def test_hand_counted_entropy(self, spark):
        from bigdata_logs_spark.operators import multimodal as MM

        texts = ["aaaa", "abab", "abcd"]
        df = spark.createDataFrame(
            [
                Row(doc_id=i, text=t, lang="en", source="s0", n_chars=len(t))
                for i, t in enumerate(texts)
            ]
        )
        media = MM.media_from_documents(df)
        out = {r.media_id: r for r in MM.media_byte_entropy(media).collect()}
        import math

        def want(t):
            from collections import Counter

            n = len(t)
            sq = sum(
                round(c * math.log(c) * 1e6) for c in Counter(t).values()
            )
            return round((math.log(n) - (sq / 1e6) / n) / math.log(2.0), 4)

        assert out[0].entropy_bits_per_byte == want("aaaa")  # 0.0
        assert out[0].entropy_bits_per_byte == 0.0
        assert out[1].entropy_bits_per_byte == want("abab")  # 1 bit
        assert abs(out[1].entropy_bits_per_byte - 1.0) < 1e-9
        assert out[2].entropy_bits_per_byte == want("abcd")  # 2 bits
        assert abs(out[2].entropy_bits_per_byte - 2.0) < 1e-9
        assert out[2].n_bytes == 4

    def test_partition_invariant(self, spark):
        from bigdata_logs_spark.operators import multimodal as MM

        texts = [f"payload {i} " + "x" * (i % 17) for i in range(40)]
        df = spark.createDataFrame(
            [
                Row(doc_id=i, text=t, lang="en", source="s0", n_chars=len(t))
                for i, t in enumerate(texts)
            ]
        )
        a = sorted(map(tuple, MM.media_byte_entropy(
            MM.media_from_documents(df)).collect()))
        b = sorted(map(tuple, MM.media_byte_entropy(
            MM.media_from_documents(df.repartition(9))).collect()))
        assert a == b


class TestMannWhitney:
    def test_matches_pure_python_u_and_z(self, spark):
        a_vals = [5.0, 7.0, 7.0, 9.0, 12.0]
        b_vals = [1.0, 2.0, 2.0, 7.0, 3.0, 4.0]
        rows = [(u, "purchase", v, 0) for u, v in enumerate(a_vals)]
        rows += [(100 + u, "view", v, 0) for u, v in enumerate(b_vals)]
        rows += [(500, "click", 99.0, 0)]  # other types excluded
        out = AN.mann_whitney_value(_ev(spark, rows)).collect()
        assert len(out) == 1
        r = out[0]

        import math
        from collections import Counter

        ca = [int(round(v * 100)) for v in a_vals]
        cb = [int(round(v * 100)) for v in b_vals]
        combined = sorted(ca + cb)
        ranks = {}
        i = 0
        for v, t in sorted(Counter(combined).items()):
            ranks[v] = (2 * i + t + 1) / 2  # mid-rank
            i += t
        ra = sum(ranks[v] for v in ca)
        na, nb = len(ca), len(cb)
        u_a = na * nb + na * (na + 1) / 2 - ra
        n = na + nb
        ties = sum(t**3 - t for t in Counter(combined).values())
        sigma2 = na * nb * ((n + 1) * n * (n - 1) - ties) / (12 * n * (n - 1))
        z = (u_a - na * nb / 2) / math.sqrt(sigma2)
        assert (r.n_a, r.n_b) == (na, nb)
        assert r.u_a == round(u_a, 1)
        assert abs(r.z - round(z, 4)) < 1e-9
        assert r.significant == (abs(z) > 1.96)

    def test_identical_distributions_not_significant(self, spark):
        vals = [float(v) for v in range(1, 21)]
        rows = [(u, "purchase", v, 0) for u, v in enumerate(vals)]
        rows += [(100 + u, "view", v, 0) for u, v in enumerate(vals)]
        r = AN.mann_whitney_value(_ev(spark, rows)).collect()[0]
        assert not r.significant
        assert abs(r.z) < 0.1


def test_binary_file_roundtrip_is_lossless(spark, sf_dir):
    """S-19: blob-per-file write + binaryFile read recovers every
    payload byte-for-byte (counts, total bytes, distinct digests all
    equal the source table's)."""
    from pyspark.sql import functions as F

    from bigdata_logs_spark.registry import REGISTRY
    from bigdata_logs_spark.operators import multimodal as MM
    from bigdata_logs_spark.sources import load_table

    got = sorted(
        map(tuple, REGISTRY["binary_file_roundtrip"].fn(spark, sf_dir).collect())
    )
    media = MM.media_from_documents(load_table(spark, sf_dir, "documents"))
    want = sorted(
        map(
            tuple,
            media.groupBy("kind")
            .agg(
                F.count(F.lit(1)).alias("n_files"),
                F.sum(F.length("content")).alias("total_bytes"),
                F.countDistinct(F.md5("content")).alias("distinct_digests"),
            )
            .collect(),
        )
    )
    assert got == want
