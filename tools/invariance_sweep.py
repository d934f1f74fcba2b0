"""Registry-wide partitioning-invariance sweep.

Runs every registry query TWICE in one session under deliberately
different physical-execution settings and requires bit-identical
normalized results:

  pass A — engine defaults (32 shuffle partitions, AQE on, 128m scan
           splits): the configuration bench/tests run under;
  pass B — a hostile re-plan: 7 shuffle partitions, AQE flipped off,
           1 MiB scan splits (many more input slices). Every shuffle
           boundary, scan split, and ``spark_partition_id`` /
           ``repartitionByRange`` slice assignment changes.

A query whose ANSWER depends on any of that — order-dependent float
accumulation, window ties broken by arrival order, partition-seeded
sampling, rank arithmetic that assumes a slice count — produces a
value-hash mismatch here long before a cluster (where partitioning
is never what local[32] made it) would surface it. This is the
same invariant the 10x-scale oracle differential checks from the
data side, checked from the physical-plan side; at 100 TB the
shuffle-partition count is retuned per job, so answers MUST be
invariant to it. Usage:

    python tools/invariance_sweep.py [sf_dir] [query ...]

Exit code 0 iff every query matches itself across the two passes.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdata_logs_spark.registry import REGISTRY  # noqa: E402
from bigdata_logs_spark.session import get_spark  # noqa: E402
from tools.oracle_check import collect_released, table_hash  # noqa: E402

# Pass-B perturbation: every knob here is a runtime session conf
# (settable mid-session via spark.conf.set) that changes physical
# partitioning without touching query semantics.
HOSTILE = {
    "spark.sql.shuffle.partitions": "7",
    "spark.sql.adaptive.enabled": "false",
    "spark.sql.files.maxPartitionBytes": "1048576",
}


def sweep(spark, sf_dir: str, only=None, registry=None):
    """Run the A/B invariance comparison for every registry query
    (or the ``only`` subset; ``registry`` overrides the live REGISTRY
    so tests can feed canary specs). Returns (checked, failures)
    where failures is a list of (query_name, why)."""
    defaults = {k: spark.conf.get(k) for k in HOSTILE}

    failures = []
    checked = 0
    for name, spec in (registry if registry is not None else REGISTRY).items():
        if only and name not in only:
            continue
        checked += 1
        # try/finally: the sweep runs against a SHARED session (the
        # pytest fixture, or the caller's), so an unexpected exception
        # anywhere in the body must never leave it in the hostile
        # config and poison later work.
        answers, errs = [], []
        try:
            for conf in (defaults, HOSTILE):
                for k, v in conf.items():
                    spark.conf.set(k, v)
                try:
                    answers.append(
                        collect_released(spark, lambda: spec.fn(spark, sf_dir))
                    )
                    errs.append(None)
                except Exception as e:  # noqa: BLE001
                    errs.append(str(e))
        finally:
            for k, v in defaults.items():
                spark.conf.set(k, v)

        a_err, b_err = errs
        if a_err or b_err:
            failures.append((name, f"error A={a_err} B={b_err}"))
            print(f"  ✗ {name}: error ({(a_err or b_err)[:120]})")
            continue
        (a_cols, a_rows), (b_cols, b_rows) = answers
        problems = []
        if a_cols != b_cols:
            problems.append(f"schema A={a_cols} B={b_cols}")
        if len(a_rows) != len(b_rows):
            problems.append(f"rowcount A={len(a_rows)} B={len(b_rows)}")
        if not problems and table_hash(a_cols, a_rows) != table_hash(
            b_cols, b_rows
        ):
            problems.append("value-hash mismatch across partitionings")
        if problems:
            failures.append((name, "; ".join(problems)))
            print(f"  ✗ {name}: {problems[0]}")
        else:
            print(f"  ✓ {name} ({len(a_rows)} rows)")
    return checked, failures


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    spark = get_spark("invariance-sweep")
    checked, failures = sweep(spark, sf_dir, only)

    print(f"\n{checked - len(failures)} invariant, {len(failures)} FAILED")
    for name, why in failures:
        print(f"FAIL {name}: {why[:200]}")
    return 1 if failures else 0


if __name__ == "__main__":
    raise SystemExit(main())
