"""Session defaults: sized from the host, and the driver JVM's options."""

import os

import pytest
from pyspark.sql import types as T

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


def test_package_reads_only_the_deployment_env_names():
    """The package's environment surface is the three deployment
    settings: host CPUs, driver heap and a generic conf passthrough."""
    import glob
    import re

    pkg = os.path.dirname(session.__file__)
    names = set()
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        with open(path, encoding="utf-8") as f:
            names |= set(re.findall(r"SPARK_GRAFT_([A-Z0-9_]+)", f.read()))
    assert names == {"CPUS", "DRIVER_MEM", "CONF"}


def test_session_broadcast_and_scan_packing_settings(spark):
    """Auto-broadcast is off at both decision points, and scan packing
    runs at Spark's own defaults (128 MiB per partition, 4 MiB open
    cost), read back as the session's effective SQLConf values."""
    sql_conf = spark._jsparkSession.sessionState().conf()
    entries = spark._jvm.org.apache.spark.sql.internal.SQLConf
    assert sql_conf.autoBroadcastJoinThreshold() == -1
    assert sql_conf.getConf(
        entries.ADAPTIVE_AUTO_BROADCASTJOIN_THRESHOLD()).get() == -1
    assert sql_conf.filesMaxPartitionBytes() == 128 * 2**20
    assert sql_conf.filesOpenCostInBytes() == 4 * 2**20


def test_local_frame_is_a_local_relation_even_when_empty(spark):
    """No rows still plans a `LocalTableScan`: an empty list or pandas
    frame would silently fall back to a Python RDD (`ExistingRDD`)."""
    df = session.local_frame(spark, [], "a string, b long")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan
    assert df.collect() == []


def test_local_frame_keeps_the_schema_nullability(spark):
    schema = T.StructType([T.StructField("a", T.StringType(), False),
                           T.StructField("b", T.LongType(), True)])
    df = session.local_frame(spark, [("x", None), ("y", 2)], schema)
    assert df.schema == schema
    assert df.collect() == [("x", None), ("y", 2)]
    with pytest.raises(ValueError):
        session.local_frame(spark, [(None, 1)], schema)
