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


def test_driver_jvm_runs_with_class_data_sharing(spark):
    """The suite's own driver JVM runs with the CDS options get_spark
    chose: quiet CDS logging and exactly one of mapping and dumping an
    archive. A mapped archive is in the JVM's memory map, so sharing
    did not silently fall back."""
    cds = session.class_data_sharing()
    assert cds.mode in ("use", "dump"), str(cds)
    args = list(spark._jvm.java.lang.management.ManagementFactory
                .getRuntimeMXBean().getInputArguments())
    assert session.CDS_QUIET in args
    sharing = [a for a in args if a.startswith(
        ("-XX:SharedArchiveFile=", "-XX:ArchiveClassesAtExit="))]
    assert len(sharing) == 1
    if cds.mode == "use":
        assert sharing == [f"-XX:SharedArchiveFile={cds.detail}"]
        assert "-Xshare:auto" in args
        with open(f"/proc/{spark.sparkContext._gateway.proc.pid}/maps") as f:
            assert cds.detail in f.read()
    else:
        assert sharing == [f"-XX:ArchiveClassesAtExit={cds.temp}"]


@pytest.fixture
def spark_home(monkeypatch, tmp_path):
    """A Spark home with Spark's stock conf directory (templates only)
    and two jars, a cache directory, and no class-path environment."""
    home = tmp_path / "spark"
    (home / "conf").mkdir(parents=True)
    (home / "conf" / "spark-defaults.conf.template").write_text("#\n")
    (home / "jars").mkdir()
    for jar in ("a.jar", "b.jar"):
        (home / "jars" / jar).write_bytes(b"PK")
    monkeypatch.setenv("SPARK_HOME", str(home))
    for name in ("SPARK_CONF_DIR",) + session.CLASS_PATH_ENV:
        monkeypatch.delenv(name, raising=False)
    monkeypatch.setattr(session, "CDS_CACHE_DIR", str(tmp_path / "cache"))
    return home


def _complete_dump(cds):
    with open(cds.temp, "wb") as f:
        f.write(session.CDS_MAGIC + bytes(64))


def test_cds_redirects_a_template_conf_dir_and_dumps_then_uses(spark_home):
    cache = session.CDS_CACHE_DIR
    cds = session.plan_class_data_sharing({})
    assert cds.mode == "dump"
    assert cds.conf_dir == os.path.join(cache, "conf")
    assert os.listdir(cds.conf_dir) == []
    assert os.path.dirname(cds.temp) == cache and os.path.isfile(cds.temp)
    assert cds.options.split() == [f"-XX:ArchiveClassesAtExit={cds.temp}",
                                   session.CDS_QUIET]
    assert "SPARK_CONF_DIR" not in os.environ

    _complete_dump(cds)
    session.publish_archive(cds, 0)
    assert not os.path.exists(cds.temp)
    use = session.plan_class_data_sharing({})
    assert use.mode == "use" and use.detail == cds.detail
    assert use.conf_dir == cds.conf_dir
    assert use.options.split() == [f"-XX:SharedArchiveFile={cds.detail}",
                                   "-Xshare:auto", session.CDS_QUIET]

    # a changed jar is another class path: another archive
    (spark_home / "jars" / "b.jar").write_bytes(b"PK\3\4")
    other = session.plan_class_data_sharing({})
    assert other.mode == "dump" and other.detail != cds.detail


def test_cds_off_for_a_conf_dir_with_files(spark_home, monkeypatch,
                                           tmp_path):
    (spark_home / "conf" / "spark-defaults.conf").write_text("\n")
    cds = session.plan_class_data_sharing({})
    assert (cds.mode, cds.options, cds.conf_dir) == ("off", "", None)
    assert "holds configuration files" in cds.detail

    user = tmp_path / "user-conf"
    user.mkdir()
    (user / "spark-defaults.conf").write_text("\n")
    monkeypatch.setenv("SPARK_CONF_DIR", str(user))
    cds = session.plan_class_data_sharing({})
    assert (cds.mode, cds.options, cds.conf_dir) == ("off", "", None)
    assert os.environ["SPARK_CONF_DIR"] == str(user)


@pytest.mark.parametrize("conf", [
    {"spark.driver.extraClassPath": "/opt/extra.jar"},
    {"spark.driver.extraJavaOptions": "-Xshare:off"}])
def test_cds_off_when_the_caller_sets_the_class_path_or_sharing(
        spark_home, conf):
    cds = session.plan_class_data_sharing(conf)
    assert (cds.mode, cds.options, cds.conf_dir) == ("off", "", None)
    assert not os.path.exists(session.CDS_CACHE_DIR)


def test_cds_nothing_for_an_active_spark_context(spark, monkeypatch):
    """get_spark on a running session plans no sharing, registers no
    exit wait and leaves SPARK_CONF_DIR alone."""
    import atexit

    def fail(*_):
        raise AssertionError("planned or registered for a running JVM")

    before = session.class_data_sharing()
    monkeypatch.setattr(session, "plan_class_data_sharing", fail)
    monkeypatch.setattr(atexit, "register", fail)
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    assert session.get_spark(app_name="tests", master="local[8]") is spark
    assert session.class_data_sharing() is before
    assert "SPARK_CONF_DIR" not in os.environ


def test_cds_never_publishes_an_incomplete_archive(spark_home):
    """An archive is published only from a JVM that exited cleanly with
    the header written. A killed dump leaves nothing, and the next
    session dumps again; a dump that exits with no archive marks the
    key off, so later sessions do not pay for it."""
    import subprocess

    killed = session.plan_class_data_sharing({})
    _complete_dump(killed)
    session.publish_archive(killed, -9)
    assert not os.path.exists(killed.temp)
    assert not os.path.exists(killed.detail)

    # the JVM truncates the file and writes the header last
    failed = session.plan_class_data_sharing({})
    assert failed.mode == "dump"
    with open(failed.temp, "wb") as f:
        f.write(bytes(4096))
    session.publish_archive(failed, 0)
    assert not os.path.exists(failed.temp)
    assert not os.path.exists(failed.detail)
    cds = session.plan_class_data_sharing({})
    assert cds.mode == "off" and "no archive" in cds.detail

    # a live session's temp file means one dump at a time; a dead
    # session's is removed
    os.remove(f"{failed.detail}.off")
    dead = subprocess.Popen(["true"])
    dead.wait()
    stale = f"{failed.detail}.{dead.pid}.x.tmp"
    open(stale, "w").close()
    dumping = session.plan_class_data_sharing({})
    assert dumping.mode == "dump" and not os.path.exists(stale)
    cds = session.plan_class_data_sharing({})
    assert cds == ("off", f"process {os.getpid()} is making the archive",
                   "", None, None)


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
