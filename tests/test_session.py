"""The session builder's default driver heap follows the host."""

import os

from pro_etl_spark.session import default_driver_memory


def test_default_driver_memory_is_half_of_ram_capped_at_48g():
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    got = default_driver_memory()
    assert got.endswith("m")
    mb = int(got[:-1])
    assert 0 < mb <= 48 * 1024
    assert mb == min(ram_mb // 2, 48 * 1024)
