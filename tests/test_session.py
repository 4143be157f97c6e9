"""Session defaults: sized from the host, and the driver JVM's options."""

import os

from gpml2pvjson_js_spark import session


def _host_ram(monkeypatch, gib):
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": gib * 2**30 // 4096}
    monkeypatch.setattr(os, "sysconf", pages.__getitem__)


def test_driver_memory_is_half_the_host_ram(monkeypatch):
    _host_ram(monkeypatch, 16)
    assert session.default_driver_memory() == "8192m"


def test_driver_memory_is_capped_at_24g(monkeypatch):
    _host_ram(monkeypatch, 256)
    assert session.default_driver_memory() == "24576m"


def test_driver_jvm_gets_the_jit_policy_and_utc(spark):
    """The suite's own driver JVM runs with the tier-4 thresholds and
    the UTC zone that get_spark sets in spark.driver.defaultJavaOptions."""
    args = set(spark._jvm.java.lang.management.ManagementFactory
               .getRuntimeMXBean().getInputArguments())
    assert {"-XX:Tier4InvocationThreshold=100000",
            "-XX:Tier4MinInvocationThreshold=12000",
            "-XX:Tier4CompileThreshold=300000",
            "-XX:Tier4BackEdgeThreshold=800000",
            "-Duser.timezone=UTC"} <= args
