"""Session defaults that must fit the host they start on."""

import os

from hyperpolyglot_spark.session import default_driver_memory


def test_default_driver_memory_is_half_of_physical(monkeypatch):
    monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    assert default_driver_memory(16 * 2**30) == "8192m"
    assert default_driver_memory(15 * 2**30 + 12345) == "7680m"
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert default_driver_memory() == f"{phys // 2**21}m"


def test_driver_memory_env_overrides(monkeypatch):
    monkeypatch.setenv("SPARK_DRIVER_MEM", "3g")
    assert default_driver_memory(16 * 2**30) == "3g"
