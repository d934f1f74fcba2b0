"""Smoke test of the benchmark itself, at sf0.001 with a small backlog.

    python3 perfbench/smoke.py [workload ...]

For each workload (default: all) it runs ``run.py --size smoke`` once
untraced and twice traced, and fails unless:

- the untraced run prints every end-to-end metric of BENCHMARK.json,
  with its unit, ``correct`` is true and ``ok_rate`` is 1.0;
- each traced run prints every per-layer metric with its unit;
- the traced runs' counts (records, released caches, batches) repeat
  exactly for the same seed, and their job, stage and task counts and
  shuffle bytes nearly (``NEAR_REPEATING``).

It also checks that the generators are pure functions of their seed,
and that ``run.py`` fails without printing a result in a directory
holding only BENCHMARK.json and the benchmark's files. Exit code 0 iff
every check passes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SEED = 7
REPEATING = (
    "registry.construct_jobs",
    "scan.input_records",
    "shuffle.records",
    "caching.released",
    "sink.output_records",
    "streaming.batches",
    "streaming.state_rows",
)
# These repeat up to a race:
# - when two identical query stages are submitted together, AQE reuses
#   the one that finished first or runs both, so contamination_check
#   launches 7 or 8 jobs in repeated reps of one session;
# - compressed shuffle bytes depend on row order within a block, which
#   depends on task timing (dashboard: 14920 vs 14933 bytes).
# They may differ by NEAR_SLACK units or NEAR_SHARE of the larger value.
NEAR_REPEATING = ("exec.jobs", "exec.stages", "exec.tasks", "shuffle.write_bytes")
NEAR_SLACK = 2
NEAR_SHARE = 0.01
RUN_TIMEOUT_S = 600


def _run(workload: str, trace: int, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"),
         "--workload", workload, "--seed", str(SEED), "--seconds", "1",
         "--trace", str(trace), "--size", "smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=RUN_TIMEOUT_S,
    )


def _result(proc: subprocess.CompletedProcess) -> dict:
    if proc.returncode != 0:
        raise AssertionError(f"exit {proc.returncode}: {proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _check_metrics(result: dict, spec: list[dict]) -> list[str]:
    got = result["metrics"]
    errs = [f"missing {m['name']}" for m in spec if m["name"] not in got]
    errs += [
        f"{m['name']}: unit {got[m['name']]['unit']!r} != {m['unit']!r}"
        for m in spec
        if m["name"] in got and got[m["name"]]["unit"] != m["unit"]
    ]
    return errs


def check_generators() -> list[str]:
    sys.path.insert(0, HERE)
    import gen_ssh
    import gen_tables

    errs = []
    if gen_ssh.generate(SEED, 500) != gen_ssh.generate(SEED, 500):
        errs.append("gen_ssh: same seed, different backlog")
    if gen_ssh.generate(SEED, 500) == gen_ssh.generate(SEED + 1, 500):
        errs.append("gen_ssh: seed does not change the backlog")
    with tempfile.TemporaryDirectory(dir=ROOT, prefix=".perfbench_smoke-") as d:
        for sub in ("a", "b"):
            gen_tables.write_tables(os.path.join(d, sub), SEED, 200, 50, 20)
        for name in ("events", "documents", "embeddings"):
            blobs = [
                open(os.path.join(d, sub, f"{name}.parquet"), "rb").read()
                for sub in ("a", "b")
            ]
            if blobs[0] != blobs[1]:
                errs.append(f"gen_tables: {name} differs for one seed")
    return errs


def check_bare_checkout() -> list[str]:
    """run.py must fail, printing no result, without the program."""
    with tempfile.TemporaryDirectory(dir=ROOT, prefix=".perfbench_smoke-") as d:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(HERE, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        proc = _run("dashboard", 0, cwd=d)
    if proc.returncode == 0 or '"metrics"' in proc.stdout:
        return [f"bare checkout: exit {proc.returncode}, stdout {proc.stdout[-300:]!r}"]
    return []


def check_workload(workload: str, spec: dict) -> list[str]:
    errs = []
    res = _result(_run(workload, 0))
    errs += _check_metrics(res, spec["end_to_end"])
    if not res["correct"] or res["metrics"]["ok_rate"]["value"] != 1.0:
        errs.append(f"untraced run not correct: {res}")
    traced = [_result(_run(workload, 1)) for _ in range(2)]
    for t in traced:
        errs += _check_metrics(t, spec["per_layer"])
    for name in REPEATING + NEAR_REPEATING:
        a, b = (t["metrics"][name]["value"] for t in traced)
        slack = max(NEAR_SLACK, NEAR_SHARE * max(a, b)) if name in NEAR_REPEATING else 0
        if abs(a - b) > slack:
            errs.append(f"{name} differs between traced runs: {a} != {b}")
    return [f"{workload}: {e}" for e in errs]


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = argv or [w["name"] for w in spec["workloads"]]
    errs = check_generators() + check_bare_checkout()
    for w in workloads:
        errs += check_workload(w, spec)
        print(f"{w}: done", flush=True)
    for e in errs:
        print("FAIL", e)
    print("smoke: ok" if not errs else f"smoke: {len(errs)} failure(s)")
    return 1 if errs else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
