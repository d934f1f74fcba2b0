"""Session bootstrap contracts.

Pins the local-mode driver-heap sizing logic, with no SparkSession:
32g on the target box, clamped to ~40% of the detected memory limit
(cgroup-v2 cap first, else /proc/meminfo MemTotal) so a smaller or
container-limited host isn't OOM-killed, with $SPARK_GRAFT_DRIVER_MEM
overriding unclamped. Also pins that the engine session runs with
PySpark's per-Column call-site capture off.
"""

from __future__ import annotations

from bigdata_logs_spark.session import (
    _DRIVER_MEM_DEFAULT_GB,
    _default_driver_mem,
)


def _meminfo(tmp_path, total_kib: int):
    p = tmp_path / "meminfo"
    p.write_text(f"MemTotal:       {total_kib} kB\nMemFree: 1 kB\n")
    return str(p)


def _cgroup(tmp_path, content: str):
    p = tmp_path / "memory.max"
    p.write_text(content + "\n")
    return str(p)


def test_big_box_keeps_full_default(tmp_path):
    # 128 GiB host, no cgroup cap: 40% = 51g floor -> full 32g stands.
    got = _default_driver_mem(
        cgroup_path=str(tmp_path / "absent"),
        meminfo_path=_meminfo(tmp_path, 128 * 1024 * 1024),
    )
    assert got == f"{_DRIVER_MEM_DEFAULT_GB}g"


def test_small_host_is_clamped(tmp_path):
    # 16 GiB host: 40% -> 6g, far below the 32g default.
    got = _default_driver_mem(
        cgroup_path=str(tmp_path / "absent"),
        meminfo_path=_meminfo(tmp_path, 16 * 1024 * 1024),
    )
    assert got == "6g"


def test_cgroup_cap_beats_meminfo(tmp_path):
    # Container: /proc/meminfo shows the 128 GiB host but the
    # cgroup-v2 cap is 8 GiB -> clamp to 40% of the CAP (3g).
    got = _default_driver_mem(
        cgroup_path=_cgroup(tmp_path, str(8 * 1024**3)),
        meminfo_path=_meminfo(tmp_path, 128 * 1024 * 1024),
    )
    assert got == "3g"


def test_cgroup_max_falls_through_to_meminfo(tmp_path):
    got = _default_driver_mem(
        cgroup_path=_cgroup(tmp_path, "max"),
        meminfo_path=_meminfo(tmp_path, 16 * 1024 * 1024),
    )
    assert got == "6g"


def test_tiny_host_never_goes_below_one_gb(tmp_path):
    got = _default_driver_mem(
        cgroup_path=str(tmp_path / "absent"),
        meminfo_path=_meminfo(tmp_path, 1 * 1024 * 1024),
    )
    assert got == "1g"


def test_no_detection_trusts_default(tmp_path):
    got = _default_driver_mem(
        cgroup_path=str(tmp_path / "absent"),
        meminfo_path=str(tmp_path / "also-absent"),
    )
    assert got == f"{_DRIVER_MEM_DEFAULT_GB}g"


def test_env_override_wins(monkeypatch, tmp_path):
    # get_spark passes the env var through unclamped; pin the
    # precedence at the conf-assembly site without starting a JVM.
    import os

    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "77g")
    from bigdata_logs_spark import session as S

    assert (
        os.environ.get(S._DRIVER_MEM_ENV) or S._default_driver_mem()
    ) == "77g"


def test_call_site_capture_is_off(spark):
    # On, every Column call makes extra py4j round trips (session.py).
    from pyspark.errors.utils import is_debugging_enabled

    conf = "spark.python.sql.dataFrameDebugging.enabled"
    assert spark.conf.get(conf) == "false"
    assert is_debugging_enabled() is False
