"""Round-7 batch-3 operators: fixture-value tests against pure-Python
references for seasonal decomposition (W-18), Spearman value-vs-time
(AGG-19), session concurrency (W-19), Heaps'-law growth (T-29), SLO
burn alerts (OPS-3), and the streaming fixed-bin length histogram
(ST-17)."""

from __future__ import annotations

import datetime as dt
import math
from decimal import ROUND_HALF_UP, Decimal

from pyspark.sql import Row

from bigdata_logs_spark.operators import analytics as AN
from bigdata_logs_spark.operators import anomaly as AD
from bigdata_logs_spark.operators import textops as TX

BASE = dt.datetime(2024, 1, 1, 12, 0, 0)  # 2024-01-01 is a Monday
EPOCH_DAY0 = (dt.date(2024, 1, 1) - dt.date(1970, 1, 1)).days


def _rnd(x: float) -> int:
    """Round half away from zero — Spark/DuckDB ROUND on doubles."""
    return int(Decimal(x).quantize(Decimal(1), rounding=ROUND_HALF_UP))


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


def _ev_at(spark, stamps):
    """stamps: (user_id, datetime) — exact-timestamp events."""
    return spark.createDataFrame(
        [
            Row(
                event_id=i,
                ts=ts,
                user_id=u,
                event_type="a",
                value=1.0,
            )
            for i, (u, ts) in enumerate(stamps)
        ]
    )


def _docs(spark, texts):
    return spark.createDataFrame(
        [
            Row(doc_id=i, text=t, lang="en", source="s0", n_chars=len(t))
            for i, t in enumerate(texts)
        ]
    )


class TestSeasonalDecomposition:
    def test_matches_pure_python_decomposition(self, spark):
        # 28 days: base 5/day plus +4 on the 0=Sunday dow convention's
        # dow 6 (Saturdays) and +2 on dow 1 (Mondays).
        counts = []
        for d in range(28):
            dow = (EPOCH_DAY0 + d + 4) % 7
            counts.append(5 + (4 if dow == 6 else 0) + (2 if dow == 1 else 0))
        rows = [
            (u, "a", 1.0, d) for d, c in enumerate(counts) for u in range(c)
        ]
        out = {
            r.dow: r
            for r in AN.seasonal_decomposition(_ev(spark, rows)).collect()
        }

        # pure-python mirror of the pipeline
        dms: dict[int, list[int]] = {}
        for d in range(3, 25):
            s7 = sum(counts[d - 3 : d + 4])
            dm = _rnd((counts[d] * 7 - s7) * 1_000_000 / 7.0)
            dms.setdefault((EPOCH_DAY0 + d + 4) % 7, []).append(dm)
        for dow, vals in dms.items():
            s_micro = _rnd(sum(vals) / len(vals))
            want_seasonal = round(s_micro / 1e6, 4)
            want_mar = round(
                sum(abs(v - s_micro) for v in vals) / len(vals) / 1e6, 4
            )
            assert out[dow].n_days == len(vals)
            assert abs(out[dow].seasonal - want_seasonal) < 1e-9
            assert abs(out[dow].mean_abs_residual - want_mar) < 1e-9
        # the spiked dows carry the largest positive seasonal offsets
        top = max(out.values(), key=lambda r: r.seasonal)
        assert top.dow == 6

    def test_partition_invariant(self, spark):
        rows = [
            (u, "a", 1.0, d)
            for d in range(21)
            for u in range((d * 3) % 7 + 1)
        ]
        df = _ev(spark, rows)
        a = sorted(map(tuple, AN.seasonal_decomposition(df).collect()))
        b = sorted(
            map(
                tuple,
                AN.seasonal_decomposition(df.repartition(8)).collect(),
            )
        )
        assert a == b


class TestSpearmanValueTime:
    def test_perfect_monotone_is_one(self, spark):
        rows = [(u, "a", float(d + 1), d) for d in range(10) for u in range(3)]
        # within a day all values equal -> day rank ties == value rank
        # ties, so rho is exactly 1.
        out = AN.spearman_value_time(_ev(spark, rows)).collect()
        assert len(out) == 1
        assert out[0].spearman_rho == 1.0

    def test_matches_pure_python_tied_ranks(self, spark):
        days = [0, 0, 1, 1, 2, 2, 3, 3]
        vals = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0]
        rows = [(u, "a", v, d) for u, (v, d) in enumerate(zip(vals, days))]
        out = AN.spearman_value_time(_ev(spark, rows)).collect()[0]

        def avg_ranks(xs):
            srt = sorted(xs)
            return [
                (srt.index(x) + 1 + srt.index(x) + srt.count(x)) / 2
                for x in xs
            ]

        rx = avg_ranks(days)
        ry = avg_ranks([int(round(v * 100)) for v in vals])
        n = len(rx)
        num = n * sum(a * b for a, b in zip(rx, ry)) - sum(rx) * sum(ry)
        den = math.sqrt(
            n * sum(a * a for a in rx) - sum(rx) ** 2
        ) * math.sqrt(n * sum(b * b for b in ry) - sum(ry) ** 2)
        assert out.n_events == n
        assert abs(out.spearman_rho - round(num / den, 4)) < 1e-9

    def test_all_tied_values_is_null(self, spark):
        rows = [(u, "a", 7.0, d % 3) for u, d in enumerate(range(9))]
        out = AN.spearman_value_time(_ev(spark, rows)).collect()[0]
        assert out.spearman_rho is None


class TestSessionConcurrency:
    def test_overlap_and_peak_second(self, spark):
        t = lambda h, m, s=0: dt.datetime(2024, 1, 1, h, m, s)
        stamps = [
            (1, t(10, 0)),
            (1, t(10, 20)),  # u1 session [10:00:00, 10:20:01)
            (2, t(10, 10)),  # u2 session [10:10:00, 10:10:01)
            (3, t(11, 0)),  # u3 later, never concurrent
        ]
        out = AN.session_concurrency(_ev_at(spark, stamps)).collect()
        assert len(out) == 1
        r = out[0]
        assert r.day == "2024-01-01"
        assert r.peak_concurrency == 2
        assert r.at_sec_of_day == 10 * 3600 + 10 * 60

    def test_midnight_spanning_session_carries_into_next_day(self, spark):
        stamps = [
            (1, dt.datetime(2024, 1, 1, 23, 50)),
            (1, dt.datetime(2024, 1, 2, 0, 10)),  # same session (20m gap)
            (2, dt.datetime(2024, 1, 2, 0, 5)),
        ]
        out = {
            r.day: r
            for r in AN.session_concurrency(_ev_at(spark, stamps)).collect()
        }
        assert out["2024-01-01"].peak_concurrency == 1
        # day 2 opens with u1's clipped session already active (sec 0),
        # u2 joins at 00:05 -> peak 2 at sec 300.
        assert out["2024-01-02"].peak_concurrency == 2
        assert out["2024-01-02"].at_sec_of_day == 300

    def test_partition_invariant(self, spark):
        stamps = [
            (u % 5, BASE + dt.timedelta(minutes=3 * u + (u % 7)))
            for u in range(60)
        ]
        df = _ev_at(spark, stamps)
        a = sorted(map(tuple, AN.session_concurrency(df).collect()))
        b = sorted(
            map(tuple, AN.session_concurrency(df.repartition(7)).collect())
        )
        assert a == b


class TestHeapsLaw:
    def test_checkpoint_counts_match_brute_force(self, spark):
        texts = [
            " ".join(f"w{(i * j) % (3 + i)}" for j in range(6))
            for i in range(20)
        ]
        out = {
            r.checkpoint: r for r in TX.heaps_law(_docs(spark, texts)).collect()
        }
        lo, hi = 0, 19
        toks = [t.split() for t in texts]
        for ck in range(1, 11):
            ck_doc = lo - 1 + ((hi - lo + 1) * ck) // 10
            want_n = sum(len(ts) for d, ts in enumerate(toks) if d <= ck_doc)
            want_v = len(
                {w for d, ts in enumerate(toks) if d <= ck_doc for w in ts}
            )
            assert out[ck].ck_doc == ck_doc
            assert out[ck].n_tokens_cum == want_n
            assert out[ck].vocab_cum == want_v

    def test_fit_matches_quantized_ols_and_beta_sublinear(self, spark):
        texts = [
            " ".join(f"t{(i * 17 + j * j) % (10 + 2 * i)}" for j in range(12))
            for i in range(30)
        ]
        out = TX.heaps_law(_docs(spark, texts)).collect()
        pts = [(r.n_tokens_cum, r.vocab_cum) for r in out]
        xs = [_rnd(math.log(n) * 1e6) for n, _ in pts]
        ys = [_rnd(math.log(v) * 1e6) for _, v in pts]
        n = len(xs)
        num = n * sum(a * b for a, b in zip(xs, ys)) - sum(xs) * sum(ys)
        den = n * sum(a * a for a in xs) - sum(xs) ** 2
        beta = num / den
        lnk = (sum(ys) - beta * sum(xs)) / n / 1e6
        assert abs(out[0].heaps_beta - round(beta, 4)) < 1e-9
        assert abs(out[0].heaps_ln_k - round(lnk, 4)) < 1e-9
        # vocabulary grows, but sublinearly
        assert 0.0 < out[0].heaps_beta < 1.0


class TestSloBurnAlerts:
    def test_hand_counted_burns_and_zero_fill(self, spark):
        # day 0: 4 events 1 error (burn 1.0); day 1: silent (zero-fill);
        # day 2: 4 events 3 errors (burn 3.0 -> fast page).
        rows = (
            [(u, "click", 1.0, 0) for u in range(3)]
            + [(9, "error", 1.0, 0)]
            + [(u, "click", 1.0, 2) for u in range(1)]
            + [(u, "error", 1.0, 2) for u in range(3)]
        )
        out = {
            r.day: r for r in AD.slo_burn_alerts(_ev(spark, rows)).collect()
        }
        assert len(out) == 3
        d0, d1, d2 = (
            out["2024-01-01"],
            out["2024-01-02"],
            out["2024-01-03"],
        )
        assert (d0.n, d0.ne) == (4, 1)
        assert d0.burn_1d == 1.0 and not d0.page_fast
        assert d1.n == 0 and d1.burn_1d is None and not d1.page_fast
        assert d1.burn_7d == round(1 / 4 / 0.25, 4)  # rolling still defined
        assert d2.burn_1d == 3.0 and d2.page_fast
        assert d2.burn_7d == round((4 / 8) / 0.25, 4)
        assert d2.page_slow  # 7-day burn 2.0 >= 1.0

    def test_partition_invariant(self, spark):
        rows = [
            (u, "error" if (u + d) % 3 == 0 else "view", 1.0, d)
            for d in range(10)
            for u in range(6)
        ]
        df = _ev(spark, rows)
        a = sorted(map(tuple, AD.slo_burn_alerts(df).collect()))
        b = sorted(map(tuple, AD.slo_burn_alerts(df.repartition(9)).collect()))
        assert a == b


def test_streaming_length_histogram_split_invariant(spark, sf_dir, tmp_path):
    """ST-17: the drained fixed-bin length histogram equals the batch
    histogram of the same lines and is bit-identical whether the feed
    arrives as one micro-batch or one file per micro-batch (SUM merge
    is associative+commutative). Also pins bounded state (<= 256
    rows) and the data-independent bin domain (top-bin clamp)."""
    import os

    from pyspark.sql import functions as F

    from bigdata_logs_spark.operators.parse import parse_ssh_lines
    from bigdata_logs_spark.operators.ssh_synth import synthesize_ssh_lines
    from bigdata_logs_spark.sources import load_table
    from bigdata_logs_spark.streaming.ingest import (
        read_ssh_stream,
        streaming_length_histogram_state,
    )

    lines = synthesize_ssh_lines(load_table(spark, sf_dir, "events"))
    src = str(tmp_path / "src")
    lines.repartition(4).write.mode("overwrite").text(src)

    states = {}
    for label, mfpt in (("one_batch", None), ("per_file", 1)):
        state = str(tmp_path / f"state_{label}")
        progress = streaming_length_histogram_state(
            read_ssh_stream(spark, src, max_files_per_trigger=mfpt), state
        )
        if mfpt:  # the split leg really summed bins across batches
            assert sum(p["numInputRows"] > 0 for p in progress) >= 2
        df = spark.read.parquet(state)
        assert df.count() <= 256
        states[label] = sorted(map(tuple, df.collect()))
        assert not os.path.exists(state + "__ckpt")
    assert states["one_batch"] == states["per_file"]

    batch = (
        parse_ssh_lines(spark.read.text(src))
        .where(F.col("message").isNotNull())
        .select(F.expr("least(length(message), 1023) div 4").alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    assert states["one_batch"] == sorted(map(tuple, batch.collect()))
    assert all(0 <= b <= 255 for b, _ in states["one_batch"])
