"""CLI surface: the operational entry points replacing the
reference's src/main.py + dashboard query layer."""

from __future__ import annotations

from bigdata_logs_spark.__main__ import main


def test_list_names_every_registry_query(capsys):
    assert main(["list"]) == 0
    out = capsys.readouterr().out
    from bigdata_logs_spark.registry import REGISTRY

    for name in REGISTRY:
        assert name in out


def test_query_runs_and_rejects_unknown(capsys, spark, sf_dir):
    assert main(["query", "events_per_day", "--sf-dir", sf_dir, "--rows", "3"]) == 0
    assert "total_events" in capsys.readouterr().out
    assert main(["query", "no_such_query"]) == 2


def test_parse_etl_roundtrip(tmp_path, spark, sf_dir, events):
    from bigdata_logs_spark.operators.ssh_synth import synthesize_ssh_lines

    logdir = tmp_path / "logs"
    synthesize_ssh_lines(events.limit(50)).coalesce(1).write.text(str(logdir))
    store = tmp_path / "store"
    assert (
        main(["parse", "--input", str(logdir), "--output", str(store),
              "--mode", "overwrite"]) == 0
    )
    back = spark.read.parquet(str(store))
    assert back.count() > 0
    assert "date" in back.columns  # partition column for pruning


def test_sql_views_compose_with_pushdown(capsys, spark, sf_dir):
    # every registered view stays a lazy plan: SQL over it fuses with
    # the underlying query (and the CLI surface works end to end)
    assert (
        main(["sql", "SELECT * FROM events_per_day WHERE total_events > 0",
              "--sf-dir", sf_dir, "--rows", "3"]) == 0
    )
    assert "total_events" in capsys.readouterr().out


def test_sql_matches_whole_identifiers_only(monkeypatch, sf_dir):
    # `ssh_events_per_day` must not drag in `events_per_day` (substring)
    import bigdata_logs_spark.__main__ as cli

    captured = {}

    def fake_register_views(spark, sf, names=None):
        captured["names"] = names
        return []

    import bigdata_logs_spark.registry as reg

    monkeypatch.setattr(reg, "register_views", fake_register_views)
    monkeypatch.setattr(
        cli, "_spark", lambda app: __import__(
            "bigdata_logs_spark.session", fromlist=["get_spark"]
        ).get_spark("tests")
    )
    try:
        cli.main(
            ["sql", "SELECT COUNT(*) FROM ssh_events_per_day",
             "--sf-dir", sf_dir, "--rows", "1"]
        )
    except Exception:
        pass  # the fake registers nothing, so the query itself fails
    assert captured["names"] == ["ssh_events_per_day"]


def test_register_views_exposes_queries_as_sql(spark, sf_dir):
    from bigdata_logs_spark.registry import register_views

    subset = [
        "global_metrics",
        "events_per_day",
        "entity_profile",
        "exact_dedup",
        "knn_brute_force",
        "train_val_test_split",
    ]
    names = register_views(spark, sf_dir, names=subset)
    assert set(names) == set(subset)
    row = spark.sql("SELECT COUNT(*) AS n FROM global_metrics").first()
    assert row["n"] == 1
    # views fuse with downstream SQL (join a view to a base table)
    j = spark.sql(
        "SELECT COUNT(*) AS n FROM train_val_test_split s "
        "JOIN documents d ON s.doc_id = d.doc_id WHERE s.split = 'train'"
    ).first()
    assert j["n"] > 0


def test_explain_prints_formatted_plan(capsys, spark, sf_dir):
    from bigdata_logs_spark.__main__ import main

    assert main(["explain", "regional_revenue", "--sf-dir", sf_dir]) == 0
    out = capsys.readouterr().out
    assert "BroadcastHashJoin" in out or "Exchange" in out
    assert main(["explain", "nope"]) == 2


def test_dashboard_once_renders_all_panels(
    capsys, monkeypatch, tmp_path, spark, events
):
    """`dashboard --once` = the reference's Streamlit page as one
    terminal frame: drain the stream, render every panel, exit 0. A
    drain that misses its deadline still renders, warns that the
    panels are partial, stops every query and exits 1."""
    from bigdata_logs_spark.operators.ssh_synth import synthesize_ssh_lines

    logdir = tmp_path / "dashlogs"
    synthesize_ssh_lines(events.limit(200)).coalesce(1).write.text(str(logdir))
    assert (
        main(["dashboard", "--input", str(logdir), "--once", "--rows", "3"]) == 0
    )
    out = capsys.readouterr().out
    assert "activity heatmap" in out
    assert "event volume per window" in out
    assert "severity mix per window" in out
    assert "latest state per ip" in out
    assert "brute-force hits" in out
    # panels actually rendered rows, not empty headers
    assert "only showing top" in out or "|" in out

    from bigdata_logs_spark.streaming import ingest

    def deadline_missed(q):
        raise TimeoutError(f"streaming query {q.name} did not drain")

    monkeypatch.setattr(ingest, "_drain", deadline_missed)
    assert main(["dashboard", "--input", str(logdir), "--once"]) == 1
    captured = capsys.readouterr()
    assert "event volume per window" in captured.out
    assert "panels above are partial" in captured.err
    assert spark.streams.active == []


def test_detect_prints_all_four_anomaly_sections(capsys, spark, sf_dir):
    assert main(["detect", "--sf-dir", sf_dir, "--rows", "5"]) == 0
    out = capsys.readouterr().out
    assert "hourly count anomalies" in out
    assert "brute-force sources" in out
    assert "price outliers" in out
    assert "event-type drift" in out
    assert "chi2_contrib" in out
    assert "ssh incident report" in out


def test_curate_exports_partitioned_corpus_with_card(tmp_path, capsys, spark, sf_dir):
    out = tmp_path / "curated"
    assert (
        main(
            ["curate", "--sf-dir", sf_dir, "--output", str(out),
             "--leakage-safe", "--rows", "10"]
        )
        == 0
    )
    printed = capsys.readouterr().out
    assert "dataset card" in printed
    back = spark.read.parquet(str(out))
    assert back.count() > 0
    assert "split" in back.columns and "n_tokens" in back.columns
    # split-partitioned layout on disk: split=train/val/test dirs
    assert any(p.name.startswith("split=") for p in out.iterdir())
    # the gate held: nothing below the token floor was exported
    assert back.filter("n_tokens < 5").count() == 0
