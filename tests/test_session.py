"""Session defaults that depend on the host."""

from __future__ import annotations

import re

from deepee_spark.session import default_driver_mem


def test_driver_mem_default_scales_with_host_memory():
    gib = 1 << 20  # kB
    assert default_driver_mem(16456384) == "6g"  # a 15.7 GiB host
    assert default_driver_mem(64 * gib) == "25g"
    assert default_driver_mem(2 * gib) == "1g"  # floor
    assert default_driver_mem(512 * 1024) == "1g"
    assert default_driver_mem(1024 * gib) == "48g"  # cap: the old fixed default
    assert re.fullmatch(r"([1-9]|[1-3][0-9]|4[0-8])g", default_driver_mem())
