"""The repo benchmark: one workload, one seed, one process.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The run generates its inputs from
the seed (``gen_tables`` for ``dashboard``/``curation``, whose tables
are fixed and whose seed permutes the op order; ``gen_ssh`` for
``ingest``, whose seed also makes the backlog), starts one
SparkSession at ``local[nproc]`` and then:

1. set-up: one untimed warm-up rep of every op;
2. timed passes, a closed loop with one client: each pass runs every
   op once, in a seeded order, each timed from construction to the
   last task of a ``noop`` write; tracked caches and sink dirs are
   released between ops, outside the timing. There are at least
   ``MIN_PASSES``, and more while the next one is expected to end
   within ``--seconds``;
3. the oracle check, after the timed passes and untimed: one more rep
   of every op, whose DataFrame is collected and compared with the
   op's DuckDB oracle.

With ``--trace 1`` every op-rep runs twice in a row, untraced and
traced, in an order that swaps from pass to pass; traced op-reps
record spans and in-process counters (``probe.py``) and the run
prints the per-layer metrics, including the tracing overhead.
With ``--trace 0`` it prints the end-to-end metrics. Metric names and
units come from ``BENCHMARK.json``. The last stdout line is the
result JSON; the line before it holds per-op detail.
"""

from __future__ import annotations

T_START = __import__("time").perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import time  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]
try:
    import duckdb
    import pyarrow as pa

    import gen_ssh
    import gen_tables
    import probe
    import workloads
    from bigdata_logs_spark.caching import release_caches
    from bigdata_logs_spark.session import get_spark
    from tools.oracle_check import table_hash
except ImportError as e:  # not a checkout of the program
    IMPORT_ERROR: ImportError | None = e
else:
    IMPORT_ERROR = None

WORKLOAD_NAMES = ("dashboard", "ingest", "curation")
# Timed passes per run whatever --seconds says, so every op's median
# is robust to one outlier rep.
MIN_PASSES = 3
# A traced run pairs an untraced and a traced rep of each op back to
# back, untraced first in even passes and traced first in odd ones:
# the JIT trend inside a pair is small, and what is left of it, and any
# speed-up of a pair's second rep, cancels over the two orders. Op
# walls still fall 10-20% from pass to pass, so pairs a whole pass
# apart would mostly measure that.
TRACE_MIN_PASSES = 2
# Smoke scale (sf0.001 tables, a small backlog) for perfbench/smoke.py.
SMOKE_TABLES = {"events": 1_000, "documents": 50, "embeddings": 50}
SMOKE_LINES = 2_000
# The dashboard/curation tables are fixed across seeds; only the op
# order follows --seed, so seeds compare like for like.
TABLE_SEED = 42
STREAM_PHASES = ("latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit")


def _fail(msg: str) -> int:
    print(f"perfbench: {msg}", file=sys.stderr)
    return 2


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _pct(xs, q: float) -> float:
    if not xs:
        return 0.0
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))]


class Run:
    """One workload's op-reps in one session, and what they measured."""

    def __init__(self, args, workload, inputs, spark):
        self.args = args
        self.wl = workload
        self.inp = inputs
        self.spark = spark
        self.walls = {op.name: [] for op in workload.ops}
        self.traced = {op.name: [] for op in workload.ops}
        # Per traced-run pass: summed traced minus untraced op walls.
        self.overhead_ms: list[float] = []
        self.errors: dict[str, list[str]] = {op.name: [] for op in workload.ops}
        self.result_rows: dict[str, int] = {}
        self.verdict: dict[str, str] = {}
        self.attempted = 0
        self.rng = random.Random(args.seed)
        self.tracer = None
        if args.trace:
            self.tracer = probe.Tracer()
            self.counters = probe.SparkCounters(spark)
            self.progress = probe.ProgressLog()
            spark.streams.addListener(self.progress)

    def _release(self) -> int:
        n = release_caches()
        for d in self.inp.scratch:
            shutil.rmtree(d, ignore_errors=True)
        self.inp.scratch.clear()
        return n

    def _order(self):
        ops = list(self.wl.ops)
        self.rng.shuffle(ops)
        return ops

    def rep(self, op) -> float | None:
        """One untraced op-rep; returns its wall in ms, None on error."""
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            df = op.fn(self.spark, self.inp, probe.no_span)
            df.write.format("noop").mode("overwrite").save()
            return (time.perf_counter() - t0) * 1e3
        except Exception as e:  # noqa: BLE001 — a failed op is counted, not fatal
            self.errors[op.name].append(f"{type(e).__name__}: {e}"[:500])
            return None
        finally:
            self._release()

    def traced_rep(self, op, rep_id: str) -> float | None:
        """One op-rep with spans and counters; the counters are read
        after the op's wall is taken."""
        tr, c = self.tracer, self.counters
        tr.rep = rep_id
        # Drop the previous rep's progress reports, some of which may
        # still be queued on the listener bus.
        c.drain()
        self.progress.take()
        self.attempted += 1
        j0 = c.next_job_id()
        try:
            with tr.span("op") as whole:
                with tr.span("construct"):
                    df = op.fn(self.spark, self.inp, tr.span)
                j1 = c.next_job_id()
                with tr.span("plan"):
                    df._jdf.queryExecution().executedPlan()
                with tr.span("exec"):
                    df.write.format("noop").mode("overwrite").save()
            j2 = c.next_job_id()
            c.drain()
            rec = c.stages(j0, j2)
            rec["construct_jobs"] = j1 - j0
            rec["cached_bytes"] = c.cached_bytes()
        except Exception as e:  # noqa: BLE001
            self.errors[op.name].append(f"{type(e).__name__}: {e}"[:500])
            self._release()
            return None
        with tr.span("caching.release") as rel:
            rec["released"] = self._release()
        rec["release_ms"] = (rel["end"] - rel["start"]) * 1e3
        for name in ("construct", "plan", "exec"):
            rec[f"{name}_ms"] = sum(tr.walls_ms(rep_id, name))
        rec["wall_ms"] = (whole["end"] - whole["start"]) * 1e3
        c.drain()
        rec["progress"] = self.progress.take()
        rec["drain_ms"] = sum(tr.walls_ms(rep_id, "streaming.drain"))
        self.traced[op.name].append(rec)
        return rec["wall_ms"]

    def warm_up(self) -> dict[str, float | None]:
        return {op.name: self.rep(op) for op in self._order()}

    def timed(self) -> int:
        """Timed passes until the next one would end after --seconds,
        at least ``MIN_PASSES``; a traced run makes an even number, at
        least ``TRACE_MIN_PASSES``."""
        trace = self.args.trace
        step = 2 if trace else 1
        min_passes = TRACE_MIN_PASSES if trace else MIN_PASSES
        t0 = time.perf_counter()
        p = 0
        while True:
            diff = 0.0
            for op in self._order():
                if not trace:
                    u = self.rep(op)
                elif p % 2 == 0:
                    u = self.rep(op)
                    t = self.traced_rep(op, f"{p}:{op.name}")
                else:
                    t = self.traced_rep(op, f"{p}:{op.name}")
                    u = self.rep(op)
                if u is not None:
                    self.walls[op.name].append(u)
                if trace and u is not None and t is not None:
                    diff += t - u
            if trace:
                self.overhead_ms.append(diff)
            p += 1
            elapsed = time.perf_counter() - t0
            if (
                p >= min_passes
                and p % step == 0
                and elapsed + step * elapsed / p > self.args.seconds
            ):
                return p

    def check(self, con) -> None:
        """One untimed rep of every op after the timed passes: its
        collected rows are compared with the op's DuckDB oracle (row
        count, column set, ``table_hash``); fills ``self.verdict``."""
        for op in self.wl.ops:
            self.attempted += 1
            try:
                df = op.fn(self.spark, self.inp, probe.no_span)
                s_cols = df.columns
                s_rows = [tuple(r) for r in df.collect()]
                cur = con.execute(op.oracle)
                d_cols = [d[0] for d in cur.description]
                d_rows = cur.fetchall()
            except Exception as e:  # noqa: BLE001
                self.verdict[op.name] = f"error: {type(e).__name__}: {e}"[:500]
                continue
            finally:
                self._release()
            if len(s_rows) != len(d_rows):
                self.verdict[op.name] = f"rows: spark={len(s_rows)} oracle={len(d_rows)}"
            elif sorted(s_cols) != sorted(d_cols):
                self.verdict[op.name] = (
                    f"columns: spark={sorted(s_cols)} oracle={sorted(d_cols)}"
                )
            elif table_hash(s_cols, s_rows) != table_hash(d_cols, d_rows):
                self.verdict[op.name] = "value hash differs"
            else:
                self.verdict[op.name] = "ok"
                self.result_rows[op.name] = len(s_rows)


def _tail(walls: list[float]) -> tuple[float, float, int]:
    """Wall at the highest percentile leaving >= 10 samples beyond it:
    (value, percentile, sample count)."""
    xs = sorted(walls)
    if not xs:
        return 0.0, 0.0, 0
    i = max(0, len(xs) - 11)
    return xs[i], 100.0 * (i + 1) / len(xs), len(xs)


def end_to_end(run: Run, setup_s, ok_rate, rows) -> tuple[dict, dict]:
    # Ops that failed in every rep have no median; ok_rate shows them.
    med = {k: _median(v) for k, v in run.walls.items() if v}
    all_walls = [w for v in run.walls.values() for w in v]
    tail, tail_pct, n = _tail(all_walls)
    headline_ms = med.get(run.wl.headline, 0.0) if run.wl.headline else sum(med.values())
    metrics = {
        "setup_s": setup_s,
        "pass_s": sum(med.values()) / 1e3,
        "op_geomean_ms": (
            math.exp(statistics.fmean(math.log(m) for m in med.values())) if med else 0.0
        ),
        "ok_rate": ok_rate,
        "rows_per_s": rows / (headline_ms / 1e3) if headline_ms else 0.0,
    }
    detail = {
        "op_walls_ms": run.walls,
        "op_median_ms": med,
        # Not an end-to-end metric: with 12-15 op-reps per run the
        # percentile lands on the second-fastest rep, whose value flips
        # between JIT-warm and not from run to run.
        "op_tail_ms": tail,
        "op_tail_percentile": tail_pct,
        "op_tail_samples": n,
    }
    return metrics, detail


def per_layer(
    run: Run, session_s: float, rss_mb: float, kept_ratio: float, cores: int
) -> dict:
    """Per-op medians over traced reps, summed over ops."""

    def total(key):
        return sum(_median([r[key] for r in recs]) for recs in run.traced.values() if recs)

    def total_progress(fn):
        return sum(
            _median([fn(r["progress"]) for r in recs])
            for recs in run.traced.values()
            if recs
        )

    batches = [
        p["duration_ms"].get("triggerExecution", 0)
        for recs in run.traced.values()
        for r in recs
        for p in r["progress"]
    ]
    wall = total("wall_ms")
    m = {
        "session.start_s": session_s,
        "jvm.peak_rss_mb": rss_mb,
        "registry.construct_ms": total("construct_ms"),
        "registry.construct_jobs": total("construct_jobs"),
        "plan.ms": total("plan_ms"),
        "exec.wall_ms": total("exec_ms"),
        "exec.jobs": total("jobs"),
        "exec.stages": total("stages"),
        "exec.tasks": total("tasks"),
        "exec.task_ms": total("task_ms"),
        "exec.cpu_ms": total("cpu_ms"),
        "exec.gc_ms": total("gc_ms"),
        "exec.busy_ratio": total("task_ms") / (wall * cores) if wall else 0.0,
        "scan.input_bytes": total("input_bytes"),
        "scan.input_records": total("input_records"),
        "shuffle.write_bytes": total("shuffle_write_bytes"),
        "shuffle.read_bytes": total("shuffle_read_bytes"),
        "shuffle.records": total("shuffle_records"),
        "spill.bytes": total("spill_bytes"),
        "caching.released": total("released"),
        "caching.cached_bytes": total("cached_bytes"),
        "caching.release_ms": total("release_ms"),
        "parse.kept_ratio": kept_ratio,
        "sink.output_bytes": total("output_bytes"),
        "sink.output_records": total_progress(lambda ps: sum(p["sink_rows"] for p in ps)),
        "streaming.batches": total_progress(len),
        "streaming.batch_p50_ms": _pct(batches, 0.5),
        "streaming.batch_p90_ms": _pct(batches, 0.9),
    }
    for phase in STREAM_PHASES:
        m[f"streaming.{phase}_ms"] = total_progress(
            lambda ps, ph=phase: sum(p["duration_ms"].get(ph, 0) for p in ps)
        )
    m["streaming.state_rows"] = total_progress(
        lambda ps: max((p["state_rows"] for p in ps), default=0)
    )
    m["streaming.state_bytes"] = total_progress(
        lambda ps: max((p["state_bytes"] for p in ps), default=0)
    )
    m["streaming.drain_overhead_ms"] = sum(
        _median(
            [
                r["drain_ms"]
                - sum(p["duration_ms"].get("triggerExecution", 0) for p in r["progress"])
                for r in recs
            ]
        )
        for recs in run.traced.values()
        if recs and any(r["drain_ms"] for r in recs)
    )
    # Median over passes; with two passes, the mean of both orders.
    m["trace.overhead_s"] = _median(run.overhead_ms) / 1e3
    return m


def _env(work: str, cores: int) -> None:
    """Keep every file the run writes inside the checkout, pin the
    clock zone the oracle comparison renders timestamps in, and size
    the session to the machine."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # Both JVMs spark-submit starts: temp files here, and no hsperfdata
    # file outside the checkout.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TZ"] = "UTC"
    time.tzset()


def _stop(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.terminate()
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    args = ap.parse_args(argv)

    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except (OSError, ValueError) as e:
        return _fail(f"cannot read BENCHMARK.json: {e}")
    units = {
        m["name"]: m["unit"] for m in spec["per_layer" if args.trace else "end_to_end"]
    }

    if IMPORT_ERROR is not None:
        return _fail(f"the program is not importable here: {IMPORT_ERROR}")
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(ROOT, ".perfbench_out")
    _env(work, cores)

    wl = workloads.WORKLOADS[args.workload]
    tables, lines = wl.tables, wl.lines
    if args.size == "smoke":
        tables = {k: SMOKE_TABLES[k] for k in tables}
        lines = SMOKE_LINES if lines else 0
    inp = workloads.Inputs(
        tables_dir=os.path.join(work, "tables"),
        ssh_dir=os.path.join(work, "ssh"),
        work_dir=os.path.join(work, "sinks"),
    )
    spark = None
    try:
        made = gen_tables.write_tables(
            inp.tables_dir,
            TABLE_SEED,
            events=tables.get("events", 0),
            docs=tables.get("documents", 0),
            vectors=tables.get("embeddings", 0),
        )
        backlog = {}
        if lines:
            backlog = gen_ssh.write_backlog(
                inp.ssh_dir, args.seed, lines, gen_ssh.files_for(cores)
            )

        con = duckdb.connect()
        for name in made:
            path = os.path.join(inp.tables_dir, f"{name}.parquet")
            con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
        ssh_lines = gen_ssh.read_backlog(inp.ssh_dir) if lines else []
        con.register("_lines", pa.table({"value": pa.array(ssh_lines, pa.string())}))
        con.execute(f"CREATE TABLE {workloads.SSH_LINES_TABLE} AS SELECT * FROM _lines")

        t = time.perf_counter()
        spark = get_spark(
            "perfbench",
            master=f"local[{cores}]",
            extra_conf={
                "spark.ui.enabled": "false",
                "spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            },
        )
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t
        jvm_pid = spark._jvm.ProcessHandle.current().pid()

        run = Run(args, wl, inp, spark)
        warm = run.warm_up()
        setup_s = time.perf_counter() - T_START
        steal0, total0 = probe.cpu_ticks()
        passes = run.timed()
        steal1, total1 = probe.cpu_ticks()
        run.check(con)
        con.close()
        verdict = run.verdict

        rss = probe.peak_rss_mb(jvm_pid)
        ok = [n for n in verdict if verdict[n] == "ok" and not run.errors[n]]
        failed = sum(len(v) for v in run.errors.values()) + sum(
            1 for v in verdict.values() if v != "ok"
        )
        detail = {
            "workload": args.workload,
            "seed": args.seed,
            "inputs": {**made, **({"backlog_lines": backlog["lines"]} if backlog else {})},
            "cores": cores,
            "session_s": session_s,
            # Per-layer, not end-to-end: G1 grows the heap in steps set
            # by GC timing, so VmHWM of one seed spreads 22-28% between
            # runs, beyond any allowed bound.
            "peak_rss_mb": rss,
            "warmup_ms": warm,
            "passes": passes,
            "cpu_steal_share": (steal1 - steal0) / max(1, total1 - total0),
            "oracle": verdict,
            "errors": {k: v for k, v in run.errors.items() if v},
        }
        if args.trace:
            kept = run.result_rows.get("parse_batch", 0) / len(ssh_lines) if lines else 0.0
            metrics = per_layer(run, session_s, rss, kept, cores)
            os.makedirs(out_dir, exist_ok=True)
            trace_path = os.path.join(
                out_dir, f"trace-{args.workload}-{args.seed}-{os.getpid()}.json"
            )
            run.tracer.dump(trace_path, op_reps=run.traced)
            detail["trace_file"] = os.path.relpath(trace_path, ROOT)
        else:
            # Input rows: the backlog, else the workload's first table.
            rows = backlog["lines"] if backlog else made[next(iter(wl.tables))]
            metrics, extra = end_to_end(run, setup_s, len(ok) / len(wl.ops), rows)
            detail.update(extra)
        _stop(spark)
        spark = None
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)

    missing = set(units) ^ set(metrics)
    if missing:
        return _fail(f"metrics and BENCHMARK.json disagree on {sorted(missing)}")
    print(json.dumps(detail))
    print(
        json.dumps(
            {
                "correct": failed == 0 and len(ok) == len(wl.ops),
                "attempted": run.attempted,
                "failed": failed,
                "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
