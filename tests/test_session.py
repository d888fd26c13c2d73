"""Tests for the session factory's host-derived defaults."""

from compss_python_spark.session import default_driver_memory

GiB = 1024**3


def test_default_driver_memory_is_half_of_physical_capped_at_32g():
    assert default_driver_memory(15 * GiB) == "7680m"
    assert default_driver_memory(64 * GiB) == "32768m"
    assert default_driver_memory(128 * GiB) == "32768m"
    assert default_driver_memory(3 * GiB + 1) == "1536m"
