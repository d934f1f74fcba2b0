"""CLI: the engine's operational surface.

Replaces the reference's three entry points (`src/main.py` batch ETL,
the per-stage `__main__` blocks, and the Streamlit dashboard's
query layer, `src/stats_dashboard.py`) with one command:

    python -m bigdata_logs_spark parse   --input SSH.log --output /store
    python -m bigdata_logs_spark stream  --input /logdir --name live
    python -m bigdata_logs_spark detect  --sf-dir /data
    python -m bigdata_logs_spark curate  --sf-dir /data --output /curated --leakage-safe
    python -m bigdata_logs_spark query   events_per_day --sf-dir /data
    python -m bigdata_logs_spark sql     "SELECT ... FROM <any query view>"
    python -m bigdata_logs_spark explain regional_revenue
    python -m bigdata_logs_spark list

`parse` is the reference's whole ETL (parse -> typed schema -> store)
as ONE lazy plan — no CSV hop, no Mongo hop, no type re-inference.
`query` runs any registry query; `explain` prints a query's physical
plan. `stream` runs the incremental ingestion the reference could
only fake by polling. `detect` prints the batch anomaly report (the
reference's stated purpose, computed rather than eyeballed).
`curate` runs the training-corpus pipeline (dedup -> quality gate ->
split) and exports a split-partitioned parquet corpus with its
dataset card.
"""

from __future__ import annotations

import argparse
import sys


def _spark(app: str):
    from bigdata_logs_spark.session import get_spark

    s = get_spark(app)
    s.sparkContext.setLogLevel("WARN")
    return s


def cmd_parse(args) -> int:
    from pyspark.sql import functions as F

    from bigdata_logs_spark.operators.enrich import with_event_time
    from bigdata_logs_spark.operators.parse import parse_ssh_lines
    from bigdata_logs_spark.sources import read_ssh_log_text, write_parquet

    spark = _spark("parse")
    lines = read_ssh_log_text(spark, args.input)
    parsed = with_event_time(parse_ssh_lines(lines)).withColumn(
        "date", F.date_format("ts", "yyyy-MM-dd")
    )
    write_parquet(parsed, args.output, mode=args.mode, partition_by=("date",))
    n = spark.read.parquet(args.output).count()
    print(f"store now holds {n} events at {args.output}")
    return 0


def cmd_stream(args) -> int:
    from bigdata_logs_spark.streaming import (
        read_ssh_stream,
        run_stream_to_memory,
        windowed_event_counts,
    )

    spark = _spark("stream")
    parsed = read_ssh_stream(spark, args.input)
    counts = windowed_event_counts(parsed, window=args.window)
    run_stream_to_memory(counts, args.name, output_mode="complete")
    spark.table(args.name).orderBy("window", "event").show(
        args.rows, truncate=False
    )
    return 0


def cmd_dashboard(args) -> int:
    """Live terminal dashboard over streaming memory sinks — the
    engine-side counterpart of the reference's Streamlit refresh loop
    (`src/stats_dashboard.py`: auto-refreshing charts over a Mongo
    full scan). Same panels (event volume per window, severity mix,
    per-IP latest state, brute-force hits), but maintained
    INCREMENTALLY by Structured Streaming: each refresh re-renders
    small in-memory sink tables that micro-batches keep current —
    no per-refresh full scan of the store."""
    import time

    from bigdata_logs_spark.streaming import (
        brute_force_detector,
        read_ssh_stream,
        severity_enriched_counts,
        streaming_latest_per_ip,
        windowed_event_counts,
    )
    from bigdata_logs_spark.streaming.ingest import _drain

    spark = _spark("dashboard")
    parsed = read_ssh_stream(spark, args.input)
    panels = [
        ("event volume per window", "dash_counts",
         windowed_event_counts(parsed, window=args.window, watermark=None),
         ["window", "event"], "n"),
        ("severity mix per window", "dash_severity",
         severity_enriched_counts(parsed, window=args.window),
         ["window", "severity"], "n"),
        ("latest state per ip", "dash_latest",
         streaming_latest_per_ip(parsed),
         ["ip"], None),
        (f"brute-force hits (>={args.threshold} fails / 10 min)", "dash_brute",
         brute_force_detector(parsed, threshold=args.threshold, watermark=None),
         ["window", "ip"], "failed_count"),
    ]
    queries = []
    for _, name, df, _, _ in panels:
        w = (
            df.writeStream.format("memory")
            .queryName(name)
            .outputMode("complete")
        )
        if args.once:
            w = w.trigger(availableNow=True)
        else:
            w = w.trigger(processingTime=f"{args.refresh} seconds")
        queries.append(w.start())

    def bar_chart(rows, label_cols, value_col, width: int = 36) -> None:
        """Proportional ANSI bars — the terminal counterpart of the
        reference's Plotly bar/pie panels (src/stats_dashboard.py:
        160-240). Rows come from a bounded in-memory sink table, so
        the driver-side fetch is panel-sized, never corpus-sized."""
        if not rows:
            print("  (no data)")
            return
        vmax = max(r[value_col] for r in rows) or 1
        label_w = max(len(" ".join(str(r[c]) for c in label_cols)) for r in rows)
        for r in rows:
            label = " ".join(str(r[c]) for c in label_cols)
            n = r[value_col]
            filled = max(1 if n else 0, round(width * n / vmax))
            print(f"  {label:<{label_w}}  {'█' * filled:<{width}}  {n}")

    def heatmap() -> None:
        """Day × hour activity grid (the reference's Plotly heatmap,
        src/stats_dashboard.py) — intensity ramp over the hourly
        count sink; one bounded fetch, aggregated driver-side."""
        from pyspark.sql import functions as F

        rows = (
            spark.table("dash_counts")
            .groupBy(
                F.date_format(F.col("window.start"), "MM-dd").alias("day"),
                F.hour(F.col("window.start")).alias("hr"),
            )
            .agg(F.sum("n").alias("n"))
            .collect()
        )
        if not rows:
            print("  (no data)")
            return
        grid: dict[str, dict[int, int]] = {}
        for r in rows:
            grid.setdefault(r["day"], {})[r["hr"]] = r["n"]
        vmax = max(v for d in grid.values() for v in d.values()) or 1
        ramp = " ░▒▓█"
        print("        " + "".join(f"{h:>2}" for h in range(0, 24, 2)))
        for day in sorted(grid)[-args.rows :]:
            cells = "".join(
                ramp[min(len(ramp) - 1, (grid[day].get(h, 0) * (len(ramp) - 1) + vmax - 1) // vmax)] * 2
                for h in range(24)
            )
            print(f"  {day}  {cells}")

    def render() -> None:
        print(f"\n=== bigdata_logs_spark dashboard @ {time.strftime('%H:%M:%S')} ===")
        print("\n-- activity heatmap (day × hour) --")
        heatmap()
        for title, name, _, order, metric in panels:
            print(f"\n-- {title} --")
            table = spark.table(name).orderBy(*order)
            if metric is None:
                table.show(args.rows, truncate=False)
                continue
            # chart panels lead with the biggest bars (the reference's
            # top-N distribution charts), ties broken by the key order
            from pyspark.sql import functions as F

            table = table.orderBy(F.desc(metric), *order)
            labels = [c for c in table.columns if c != metric]
            flat = [
                {
                    **{
                        c: (
                            r[c]["start"].strftime("%m-%d %H:%M")
                            if c == "window"
                            else r[c]
                        )
                        for c in labels
                    },
                    metric: r[metric],
                }
                for r in table.limit(args.rows).collect()
            ]
            bar_chart(flat, labels, metric)

    if args.once:
        timed_out = None
        try:
            for q in queries:
                _drain(q)
        except TimeoutError as e:
            timed_out = e
        finally:
            for q in queries:
                q.stop()
        render()
        if timed_out:
            print(f"warning: {timed_out}; panels above are partial", file=sys.stderr)
            return 1
        return 0
    deadline = time.monotonic() + args.duration if args.duration else None
    try:
        while deadline is None or time.monotonic() < deadline:
            render()
            time.sleep(args.refresh)
    except KeyboardInterrupt:
        pass
    finally:
        for q in queries:
            if q.isActive:
                q.stop()
    return 0


def cmd_query(args) -> int:
    from bigdata_logs_spark.registry import REGISTRY

    if args.name not in REGISTRY:
        print(f"unknown query {args.name!r}; see `list`", file=sys.stderr)
        return 2
    spark = _spark(f"query:{args.name}")
    df = REGISTRY[args.name].fn(spark, args.sf_dir)
    df.show(args.rows, truncate=False)
    return 0


def cmd_detect(args) -> int:
    """One-shot batch anomaly report — the reference's stated purpose
    ("Detección de anomalías", README.md:2) as a single command
    instead of a dashboard the viewer must eyeball: seasonal count
    spikes, brute-force sources, robust price outliers, and
    distribution drift, each from the AD-* operators."""
    from pyspark.sql import functions as F

    from bigdata_logs_spark.registry import REGISTRY

    spark = _spark("detect")
    sections = [
        ("hourly count anomalies (z > 3 vs same-hour baseline)",
         REGISTRY["hourly_event_anomalies"].fn(spark, args.sf_dir)
         .filter("is_anomaly")),
        ("brute-force sources (failed-auth bursts)",
         REGISTRY["brute_force_ips"].fn(spark, args.sf_dir)
         .filter("is_brute_force")),
        ("order price outliers per segment (median/MAD gate)",
         REGISTRY["order_price_outliers"].fn(spark, args.sf_dir)),
        ("event-type drift, first vs second half (chi-square)",
         REGISTRY["event_type_drift"].fn(spark, args.sf_dir)
         .orderBy(F.desc("chi2_contrib"), "event_type")),
        ("ssh incident report (flagged IPs, ranked)",
         REGISTRY["ssh_incident_report"].fn(spark, args.sf_dir)),
    ]
    for title, df in sections:
        print(f"\n== {title} ==")
        df.show(args.rows, truncate=False)
    return 0


def cmd_curate(args) -> int:
    """End-to-end corpus curation as one command: LSH near-dup
    removal -> minimum-token quality gate -> train/val/test
    assignment (PL-1 id-hash or, with ``--leakage-safe``, PL-13
    component-level) -> split-partitioned parquet export, then the
    per-(split, lang) manifest and the PL-12 dataset card of what was
    actually WRITTEN (fingerprint computed from the re-read export,
    so the card attests the artifact, not the plan)."""
    from pyspark.sql import functions as F

    from bigdata_logs_spark.operators.dedup import near_dup_survivors
    from bigdata_logs_spark.operators.pipeline import (
        corpus_manifest,
        hash_bucket,
        leakage_safe_split,
    )
    from bigdata_logs_spark.operators.textops import quality_scores
    from bigdata_logs_spark.sources import load_table

    spark = _spark("curate")
    docs = load_table(spark, args.sf_dir, "documents")
    surv = near_dup_survivors(docs, threshold=args.threshold).select("doc_id")
    quality = quality_scores(docs).select("doc_id", "n_tokens")
    kept = surv.join(quality, "doc_id").filter(
        F.col("n_tokens") >= args.min_tokens
    )
    if args.leakage_safe:
        assign = leakage_safe_split(docs, threshold=args.threshold).select(
            "doc_id", "split"
        )
    else:
        bucket = hash_bucket(F.col("doc_id"), "split:")
        assign = docs.select(
            "doc_id",
            F.when(bucket < 10, F.lit("test"))
            .when(bucket < 20, F.lit("val"))
            .otherwise(F.lit("train"))
            .alias("split"),
        )
    curated = docs.join(kept, "doc_id").join(assign, "doc_id")
    curated.write.mode("overwrite").partitionBy("split").parquet(args.output)

    exported = spark.read.parquet(args.output)
    print("\n== per-(split, lang) manifest ==")
    (
        exported.groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .orderBy("split", "lang")
        .show(args.rows, truncate=False)
    )
    print("== dataset card (PL-12, computed from the written export) ==")
    corpus_manifest(exported).show(args.rows, truncate=False)
    return 0


def cmd_sql(args) -> int:
    import re

    from bigdata_logs_spark.registry import REGISTRY, register_views

    spark = _spark("sql")
    # register the base tables plus only the query-views the
    # statement actually references (building every view would do
    # bounded-but-slow eager work for the streaming/roundtrip ones).
    # Whole-identifier match, not substring: `ssh_events_per_day`
    # must not drag in `events_per_day` (or any side-effectful view
    # whose name happens to be a substring)
    idents = set(re.findall(r"[A-Za-z_][A-Za-z0-9_]*", args.statement))
    referenced = [n for n in REGISTRY if n in idents]
    register_views(spark, args.sf_dir, names=referenced)
    spark.sql(args.statement).show(args.rows, truncate=False)
    return 0


def cmd_explain(args) -> int:
    from bigdata_logs_spark.registry import REGISTRY

    if args.name not in REGISTRY:
        print(f"unknown query {args.name!r}; see `list`", file=sys.stderr)
        return 2
    spark = _spark(f"explain:{args.name}")
    df = REGISTRY[args.name].fn(spark, args.sf_dir)
    df.explain(mode=args.mode)
    return 0


def cmd_list(_args) -> int:
    from bigdata_logs_spark.registry import REGISTRY

    for name, spec in sorted(REGISTRY.items()):
        tags = ",".join(spec.tags) or "-"
        oracle = "oracle" if spec.oracle else "rows-only"
        print(f"{name:34s} [{tags}] ({oracle})")
    return 0


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="bigdata_logs_spark")
    sub = p.add_subparsers(dest="cmd", required=True)

    pp = sub.add_parser("parse", help="batch ETL: raw syslog -> parquet store")
    pp.add_argument("--input", required=True, help="SSH.log file or directory")
    pp.add_argument("--output", required=True, help="parquet store path")
    pp.add_argument("--mode", default="append", choices=["append", "overwrite"])
    pp.set_defaults(fn=cmd_parse)

    ps = sub.add_parser("stream", help="streaming ingest -> windowed counts")
    ps.add_argument("--input", required=True, help="directory tailed for log files")
    ps.add_argument("--name", default="live", help="in-memory sink table name")
    ps.add_argument("--window", default="1 hour")
    ps.add_argument("--rows", type=int, default=50)
    ps.set_defaults(fn=cmd_stream)

    pd = sub.add_parser(
        "dashboard",
        help="live terminal dashboard over streaming memory sinks",
    )
    pd.add_argument("--input", required=True, help="directory tailed for log files")
    pd.add_argument("--window", default="1 hour")
    pd.add_argument("--refresh", type=float, default=5.0, help="seconds between renders")
    pd.add_argument("--duration", type=float, default=0.0, help="stop after N seconds (0 = until Ctrl-C)")
    pd.add_argument("--threshold", type=int, default=5, help="brute-force fail threshold")
    pd.add_argument("--rows", type=int, default=15)
    pd.add_argument(
        "--once",
        action="store_true",
        help="drain available input, render one frame, exit (CI mode)",
    )
    pd.set_defaults(fn=cmd_dashboard)

    pa = sub.add_parser(
        "detect", help="batch anomaly report (AD-* detector family)"
    )
    pa.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    pa.add_argument("--rows", type=int, default=20)
    pa.set_defaults(fn=cmd_detect)

    pq = sub.add_parser("query", help="run a registry query")
    pq.add_argument("name")
    pq.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    pq.add_argument("--rows", type=int, default=20)
    pq.set_defaults(fn=cmd_query)

    pl = sub.add_parser("list", help="list registry queries")
    pl.set_defaults(fn=cmd_list)

    pe = sub.add_parser(
        "explain", help="print a registry query's physical plan"
    )
    pe.add_argument("name")
    pe.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    pe.add_argument(
        "--mode",
        default="formatted",
        choices=["simple", "extended", "codegen", "cost", "formatted"],
    )
    pe.set_defaults(fn=cmd_explain)

    pu = sub.add_parser(
        "curate",
        help="corpus curation: dedup -> gate -> split -> parquet + card",
    )
    pu.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    pu.add_argument("--output", required=True, help="curated parquet path")
    pu.add_argument("--threshold", type=float, default=0.5, help="near-dup Jaccard")
    pu.add_argument("--min-tokens", type=int, default=5)
    pu.add_argument(
        "--leakage-safe",
        action="store_true",
        help="assign whole near-dup components to one split (PL-13)",
    )
    pu.add_argument("--rows", type=int, default=20)
    pu.set_defaults(fn=cmd_curate)

    px = sub.add_parser(
        "sql", help="run SQL over the tables + every registry query as views"
    )
    px.add_argument("statement")
    px.add_argument("--sf-dir", default="/root/testdata/sf0.001")
    px.add_argument("--rows", type=int, default=20)
    px.set_defaults(fn=cmd_sql)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
