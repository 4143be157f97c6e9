"""Session defaults: sized from the host, the driver JVM's options, and
where the Python workers import pyspark from."""

import os
import zipfile

import pytest
from pyspark.sql import types as T

from gpml2pvjson_js_spark import _daemon, session


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
    """The suite's own driver JVM runs with C1 alone and the UTC zone
    that get_spark sets in spark.driver.defaultJavaOptions, and with
    none of the tier-4 thresholds they replaced."""
    args = set(spark._jvm.java.lang.management.ManagementFactory
               .getRuntimeMXBean().getInputArguments())
    assert {"-XX:TieredStopAtLevel=1", "-Duser.timezone=UTC"} <= args
    assert not [a for a in args if a.startswith("-XX:Tier4")]


def test_driver_jvm_starts_no_c2_compiler(spark):
    """The flag takes effect: the driver JVM has a C1 compiler thread
    and no C2 one (thread names as /proc shows them, cut to 15
    characters)."""
    pid = spark.sparkContext._gateway.proc.pid
    names = []
    for tid in os.listdir(f"/proc/{pid}/task"):
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                names.append(f.read().strip())
        except FileNotFoundError:
            pass  # the thread exited
    assert "C1 CompilerThre" in names
    assert "C2 CompilerThre" not in names


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
    exit wait, sets no daemon module and leaves SPARK_CONF_DIR
    alone."""
    import atexit

    from pyspark.sql import SparkSession

    def fail(*_):
        raise AssertionError("planned or registered for a running JVM")

    options = {}
    get_or_create = SparkSession.Builder.getOrCreate

    def spy(builder):
        options.update(builder._options)
        return get_or_create(builder)

    before = session.class_data_sharing()
    monkeypatch.setattr(session, "plan_class_data_sharing", fail)
    monkeypatch.setattr(atexit, "register", fail)
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", spy)
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    assert session.get_spark(app_name="tests", master="local[8]") is spark
    assert session.class_data_sharing() is before
    assert "SPARK_CONF_DIR" not in os.environ
    assert "spark.python.daemon.module" not in options


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


def test_python_workers_import_the_installed_pyspark(spark):
    """The suite's session runs Spark's Python daemon from `_daemon`: a
    task imports pyspark and py4j from outside any zip, no importer of
    Spark's entries is cached, and `importlib.invalidate_caches()`,
    which pyspark calls once per task, takes under 10 ms (0.11-0.14 s
    with Spark's zips on the path)."""
    assert spark.conf.get("spark.python.daemon.module") \
        == session.DAEMON_MODULE

    def probe(_):
        import importlib
        import sys
        import time
        import zipimport

        import py4j
        import pyspark
        took = []
        for _ in range(3):
            t0 = time.perf_counter()
            importlib.invalidate_caches()
            took.append(time.perf_counter() - t0)
        zips = [entry for entry, finder in sys.path_importer_cache.items()
                if isinstance(finder, zipimport.zipimporter)]
        yield (pyspark.__file__, py4j.__file__, sys.path,
               _daemon.spark_entries(zips), min(took))

    [(pyspark_file, py4j_file, path, spark_zips, took)] = \
        spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    for file in (pyspark_file, py4j_file):
        assert os.path.isfile(file), file
    assert _daemon.spark_entries(path) == {}, path
    assert spark_zips == {}
    assert took < 0.010


@pytest.fixture
def worker_sys_path(tmp_path):
    """A Python worker's `sys.path` as Spark starts it: the working
    directory, Spark's pyspark 4.1.2 and py4j 0.10.9.9 zips and its
    spark-core jar, a user `PYTHONPATH` directory and a pyFiles zip,
    the standard library, and site-packages (`tmp_path / "site"`,
    which installs nothing yet)."""
    lib = tmp_path / "spark" / "python" / "lib"
    lib.mkdir(parents=True)
    zips = {"pyspark.zip": ("pyspark", "__version__: str = '4.1.2'\n"),
            "py4j-0.10.9.9-src.zip": ("py4j", "__version__ = '0.10.9.9'\n")}
    for name, (package, source) in zips.items():
        with zipfile.ZipFile(lib / name, "w") as z:
            z.writestr(f"{package}/version.py", source)
    jar = tmp_path / "spark" / "jars" / "spark-core_2.13-4.1.2.jar"
    jar.parent.mkdir()
    jar.write_bytes(b"PK")
    user = tmp_path / "user"
    user.mkdir()
    with zipfile.ZipFile(tmp_path / "deps.zip", "w") as z:
        z.writestr("deps/__init__.py", "")
    (tmp_path / "site").mkdir()
    return [str(tmp_path / "cwd"), str(lib / "pyspark.zip"),
            str(lib / "py4j-0.10.9.9-src.zip"), str(jar), str(user),
            str(tmp_path / "deps.zip"), str(tmp_path / "stdlib"),
            str(tmp_path / "site")]


def _install(site: str, pyspark: str | None, py4j: str | None) -> None:
    """Install pyspark and py4j (None: not at all) in `site`, as the
    `version.py` the decision reads."""
    for package, version in (("pyspark", pyspark), ("py4j", py4j)):
        if version:
            os.makedirs(os.path.join(site, package))
            with open(os.path.join(site, package, "version.py"), "w") as f:
                f.write(f'__version__ = "{version}"\n')


def test_daemon_drops_spark_entries_the_installed_copies_match(
        worker_sys_path):
    """Installed pyspark and py4j of the zips' versions: the two zips
    and the jar go, and every other entry stays in its place."""
    cwd, pyspark_zip, py4j_zip, jar, *rest = worker_sys_path
    _install(worker_sys_path[-1], "4.1.2", "0.10.9.9")
    assert _daemon.spark_entries(worker_sys_path) == {
        pyspark_zip: "pyspark", py4j_zip: "py4j", jar: "pyspark"}
    assert _daemon.worker_path(worker_sys_path) == [cwd, *rest]


@pytest.mark.parametrize("installed", ["4.1.1", None])
def test_daemon_keeps_pyspark_zip_unless_the_installed_copy_matches(
        worker_sys_path, installed):
    """A pyspark of another version, or none installed, keeps Spark's
    pyspark zip and the jar; py4j is still decided by its own
    version."""
    _install(worker_sys_path[-1], installed, "0.10.9.9")
    py4j_zip = worker_sys_path[2]
    assert _daemon.worker_path(worker_sys_path) \
        == [e for e in worker_sys_path if e != py4j_zip]


def test_daemon_decides_py4j_by_its_own_version(worker_sys_path):
    _install(worker_sys_path[-1], "4.1.2", "0.10.9.7")
    _, pyspark_zip, _, jar, *_ = worker_sys_path
    assert _daemon.worker_path(worker_sys_path) \
        == [e for e in worker_sys_path if e not in (pyspark_zip, jar)]


def _launch_conf(monkeypatch, master: str) -> dict:
    """The settings get_spark would launch a driver JVM with for
    `master` when no JVM runs yet, taken at `getOrCreate`, which then
    raises instead of launching one."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    class Launched(Exception):
        pass

    conf = {}

    def get_or_create(builder):
        conf.update(builder._options)
        raise Launched

    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", get_or_create)
    with pytest.raises(Launched):
        session.get_spark(master=master)
    return conf


@pytest.mark.parametrize("master", ["local", "local[2]", "local[*]"])
def test_local_launch_runs_the_daemon_module(spark_home, monkeypatch,
                                             master):
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    conf = _launch_conf(monkeypatch, master)
    assert conf["spark.python.daemon.module"] == session.DAEMON_MODULE


@pytest.mark.parametrize("master", ["spark://h:7077", "yarn",
                                    "local-cluster[2,1,1024]"])
def test_non_local_master_gets_no_daemon_module(spark_home, monkeypatch,
                                                master):
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    assert "spark.python.daemon.module" not in _launch_conf(monkeypatch,
                                                            master)


def test_session_get_spark_did_not_launch_gets_no_daemon_module(
        spark_home, monkeypatch):
    """Under spark-submit (a gateway handed over) get_spark launches no
    JVM, so it sets no daemon module, as for a running SparkContext
    (test_cds_nothing_for_an_active_spark_context)."""
    monkeypatch.setenv("PYSPARK_GATEWAY_PORT", "1")
    assert "spark.python.daemon.module" not in _launch_conf(monkeypatch,
                                                            "local[2]")


def test_no_daemon_module_when_workers_cannot_import_the_package(
        spark_home, monkeypatch, tmp_path):
    """A driver that imported the package from a path its workers do
    not have (here: another working directory, no PYTHONPATH, nothing
    in site-packages) keeps Spark's own daemon, which every worker can
    import."""
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.delenv("PYTHONPATH", raising=False)
    monkeypatch.chdir(tmp_path)
    monkeypatch.setattr(session.site, "getsitepackages", lambda: [])
    monkeypatch.setattr(session.site, "getusersitepackages", lambda: "")
    assert "spark.python.daemon.module" not in _launch_conf(monkeypatch,
                                                            "local[2]")


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


_DEBUGGING = "spark.python.sql.dataFrameDebugging.enabled"
# a fresh session that calls F.col and runs a small batch, then one
# whose caller turns call-site capture back on; prints what it saw
_DEBUGGING_PROBE = f"""
import json, sys, tempfile
from pyspark.sql import functions as F
from gpml2pvjson_js_spark.corpus import pages_df
from gpml2pvjson_js_spark.plans.pipeline import Pipeline
from gpml2pvjson_js_spark.session import get_spark

small = {{"spark.driver.memory": "1g"}}
spark = get_spark(master="local[2]", extra_conf=small)
F.col("url")
Pipeline(spark, pages_df(spark, 2, giant_every=0), tempfile.mkdtemp(),
         n_buckets=2).run(resume=False)
seen = {{"ipython": "IPython" in sys.modules,
         "conf": spark.conf.get("{_DEBUGGING}")}}
spark.stop()
spark = get_spark(master="local[2]",
                  extra_conf={{**small, "{_DEBUGGING}": "true"}})
seen["caller_conf"] = spark.conf.get("{_DEBUGGING}")
print(json.dumps(seen))
"""


def test_sessions_capture_no_dataframe_call_sites():
    """A fresh `get_spark` session has pyspark's DataFrame call-site
    capture off: `F.col` and a small `Pipeline.run` import no IPython.
    A caller's `extra_conf` turns it back on."""
    import json
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = {**os.environ, "PYTHONPATH": os.pathsep.join(
        filter(None, [repo, os.environ.get("PYTHONPATH")]))}
    proc = subprocess.run([sys.executable, "-c", _DEBUGGING_PROBE],
                          cwd=repo, env=env, capture_output=True,
                          text=True, timeout=600)
    assert proc.returncode == 0, proc.stderr[-2000:]
    seen = json.loads(proc.stdout.strip().splitlines()[-1])
    assert seen == {"ipython": False, "conf": "false",
                    "caller_conf": "true"}


def _compiled(spark) -> int:
    """Classes Janino has compiled in this JVM (Spark's CodegenMetrics)."""
    return (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME().getCount())


def _plan_node_names(df) -> list[str]:
    """The node names of `df`'s executed plan, through AQE's final
    plan and its query stages."""
    names, todo = [], [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        names.append(node.nodeName())
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif kind.endswith("QueryStageExec"):
            todo.append(node.plan())
        children = node.children()
        todo.extend(children.apply(i) for i in range(children.size()))
    return names


def _grouped_and_sorted(spark):
    """A groupBy and an orderBy over a local frame, run to the end. A
    literal unique to the call makes any code generated for it new
    to Janino's cache. The plan avoids the two operators Spark has no
    interpreted form of: a `HashAggregateExec`'s partial aggregation
    (`collect_list` plans an `ObjectHashAggregate`) and a range
    partitioner's ordering (one partition, so no exchange)."""
    import time

    from pyspark.sql import functions as F
    df = session.local_frame(spark, [("a", 1), ("b", 2), ("a", 3)],
                             "k string, v long")
    out = (df.groupBy("k")
           .agg(F.collect_list(F.col("v") + F.lit(time.time_ns()))
                .alias("vs"))
           .coalesce(1).orderBy("k"))
    assert [r["k"] for r in out.collect()] == ["a", "b"]
    return out


def test_session_compiles_no_java(spark, tmp_path):
    """The session evaluates expressions interpreted: a groupBy and
    orderBy and a 2-page `Pipeline.run` compile no class with Janino,
    and no plan has a `WholeStageCodegen` node. `factoryMode` is an
    internal Spark setting, so this is what catches an upgrade that
    ignores it. The two settings set back to Spark's defaults in the
    session bring compilation back."""
    from gpml2pvjson_js_spark.corpus import pages_df
    from gpml2pvjson_js_spark.plans.pipeline import Pipeline

    settings = {"spark.sql.codegen.wholeStage": "true",
                "spark.sql.codegen.factoryMode": "FALLBACK"}
    before = _compiled(spark)
    df = _grouped_and_sorted(spark)
    assert not [n for n in _plan_node_names(df) if "WholeStageCodegen" in n]
    Pipeline(spark, pages_df(spark, 2, giant_every=0), str(tmp_path),
             n_buckets=2).run(resume=False)
    assert _compiled(spark) == before

    saved = {k: spark.conf.get(k) for k in settings}
    try:
        for k, v in settings.items():
            spark.conf.set(k, v)
        df = _grouped_and_sorted(spark)
        assert _compiled(spark) > before
        assert [n for n in _plan_node_names(df) if "WholeStageCodegen" in n]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert {k: spark.conf.get(k) for k in settings} == {
        "spark.sql.codegen.wholeStage": "false",
        "spark.sql.codegen.factoryMode": "NO_CODEGEN"}
