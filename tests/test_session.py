"""Driver-memory default of :func:`crawler_spark.session.build_session`."""

from __future__ import annotations

import os

from crawler_spark.session import default_driver_memory


def _mb(size: str) -> int:
    """Spark size string ('2g', '7680m') → MiB."""
    return int(size[:-1]) * {"g": 1024, "m": 1}[size[-1].lower()]


def _ram_mb() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20


def test_default_driver_memory_fits_the_host():
    mb = _mb(default_driver_memory())
    assert 1024 <= mb <= 24 * 1024
    assert mb <= max(1024, _ram_mb() // 2)


def test_session_driver_memory_at_most_physical_ram(spark):
    got = _mb(spark.sparkContext.getConf().get("spark.driver.memory"))
    override = os.environ.get("SPARK_GRAFT_DRIVER_MEM")
    if override:
        assert got == _mb(override)
    else:
        assert got <= _ram_mb()
        assert got == _mb(default_driver_memory())
