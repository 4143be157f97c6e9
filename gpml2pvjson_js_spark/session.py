"""SparkSession factory tuned for the KG-construction pipeline.

Local-mode defaults mirror what we would set cluster-side via
spark-submit: AQE on (skew-join splitting for hot domains / giant
pages), Arrow for every pandas UDF exchange, shuffle partitions sized
to the parallelism level rather than the 200 default.

JIT policy of the driver JVM. The entry points (`python -m
gpml2pvjson_js_spark`, `tools/submit_job.py`, the benchmark) each start
a fresh driver JVM and run one batch in it, so the traffic is cold
runs. On a cold `Pipeline.run` the JIT compilers are the largest CPU
consumer: HotSpot's C2 tier spends most of its time compiling Janino,
Catalyst and Java serialization code that one batch runs only a few
thousand times. `DRIVER_JIT_OPTIONS` keeps tiered compilation but
raises the four tier-4 (C2) thresholds twentyfold, so a cold batch
runs on C1 code and C2 compiles only code that stays hot across
batches. On a 4-vCPU host, `perfbench/run.py --workload pipeline` read
-24% `cpu_s` cold, and `tools/jvm_cpu_split.py` read compiler-thread
CPU 60-70 -> 23-27 s. The warm check is the same workload run back to back
in one JVM (`--seconds 300`): long-lived sessions (streaming
micro-batches, the test suite) must stay at parity, which is why C2
stays on: C1 only (`-XX:TieredStopAtLevel=1`) was cheaper cold but
~25% slower warm. The options reach the driver only when this factory
launches its JVM; under `spark-submit` (`tools/submit_job.py`) pass
them with `--driver-java-options`. Executors keep the JVM's default
policy.

Class-data sharing of the driver JVM. Most of a cold session's set-up
is the JVM loading, parsing and verifying Spark's classes. When
`get_spark` launches the driver JVM it maps a dynamic AppCDS archive
of them (JDK 13+), which it makes itself: the first session on a host
adds `-XX:ArchiveClassesAtExit` and the JVM writes the archive as it
exits; later sessions add `-XX:SharedArchiveFile=... -Xshare:auto`
(`class_data_sharing()` says which, or why neither). On a 4-vCPU host
`perfbench/run.py --workload pipeline` read `setup_s` 12.5-15.3 ->
7.1-8.5 s (10 interleaved pairs). The one session that makes the
archive pays for it: that run read `setup_s` 17.3 s and took 59 s of
wall time, the dump at exit included, against 16-24 s, for an archive
of 137-188 MB.
- The archive lives in `~/.cache/gpml2pvjson_js_spark/`, keyed by the
  JDK and by a hash of the class path (the conf directory and the
  names, sizes and mtimes of Spark's jars): an archive serves only the
  JDK and class path that made it. The dump goes to a per-process temp
  file, published with `os.replace` only once the JVM has exited
  cleanly and the archive's header, which HotSpot writes last, is
  there; a killed dump is never published, and the next session tries
  again. One session dumps at a time; a dump that cannot work here
  leaves a `.off` marker beside the archive's name, so later sessions
  start plainly (delete it to try again).
- CDS refuses a non-empty directory on the class path, and Spark's
  launcher puts the conf directory there. When `SPARK_CONF_DIR` is
  unset and `$SPARK_HOME/conf` holds only `*.template` files (which
  Spark never reads), the JVM is launched with `SPARK_CONF_DIR` set to
  an empty directory in the cache. A conf directory with files in it,
  a `spark.driver.extraClassPath`, or a class path extended from the
  environment gets no sharing, and the JVM starts as it would without.
- `-Xlog:cds*=off` keeps the JVM from printing CDS warnings to stdout.
- At interpreter exit, the process waits (up to `JVM_EXIT_WAIT_S`) for
  the driver JVM it launched, so that no JVM outlives it, a dumping one
  included.

Python workers. Spark puts `$SPARK_HOME/python/lib/pyspark.zip`, its
py4j zip and the `spark-core` jar at the front of every Python
worker's `sys.path`. The zips hold no `.pyc`, so each daemon compiles
pyspark from source (on a 4-vCPU host, a fresh interpreter that runs
`import pyspark.daemon, pyspark.worker` took 1.0 s and 1.4 CPU-s from
the zip, 0.3-0.4 s and 0.7-0.8 CPU-s from site-packages), and each
task's `importlib.invalidate_caches()` re-reads the zips' directories
(0.11-0.14 s a task; under 0.1 ms without them). When `get_spark`
launches a local-master JVM itself, it sets
`spark.python.daemon.module` to `_daemon` (`DAEMON_MODULE`), which
drops Spark's entries of pyspark and of py4j from the path, each only
when the interpreter's installed copy has the same `version.py`
version as the zip, and keeps every other entry. Only then: on a
cluster, or under `spark-submit`, the daemon module has to import
before a task's pyFiles reach `sys.path`, so the package may not be
importable there; for the same reason the module is set only when
the launched workers import the package from the working directory,
`PYTHONPATH` or site-packages, as the package's own kernels need. A
caller's own `spark.python.daemon.module` wins.

DataFrame call sites. pyspark 4 wraps its DataFrame API functions
(`F.col`, `F.lit` and the like) so that, with
`spark.python.sql.dataFrameDebugging.enabled` on (Spark's default),
each call walks the Python stack and sends its call site to the JVM,
for the query context of an error Spark raises later. On a 4-vCPU
host an `F.col` then took 13 py4j round trips and 1.1 ms of driver
CPU, against 3 and 0.3 ms without; each call retries a failed `import
ipykernel`, and the first imports IPython when it is installed.
`get_spark` turns it off: an AnalysisException or a runtime error
then no longer names the Python file and line of the DataFrame call
in its query context (the Python traceback of the action that raised
is unchanged). A caller's `extra_conf` or `SPARK_GRAFT_CONF` can turn
it back on; pyspark reads it once per process, from the first session
that is active when a wrapped function is called.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import re
import shutil
import site
import subprocess
import tempfile
from typing import NamedTuple

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

MAX_DRIVER_MEMORY_MB = 24 * 1024
# tier-4 thresholds at 20x HotSpot's defaults (5000/600/15000/40000)
DRIVER_JIT_OPTIONS = (
    "-XX:Tier4InvocationThreshold=100000 "
    "-XX:Tier4MinInvocationThreshold=12000 "
    "-XX:Tier4CompileThreshold=300000 "
    "-XX:Tier4BackEdgeThreshold=800000")
# the class-data-sharing archives, and the empty conf directory
CDS_CACHE_DIR = os.path.join(os.path.expanduser("~"), ".cache",
                             "gpml2pvjson_js_spark")
# silences the CDS warnings the JVM prints to stdout: verification
# failures while it dumps, a mismatched archive while it maps
CDS_QUIET = "-Xlog:cds*=off"
# the first bytes of a dynamic archive's header, written last
CDS_MAGIC = bytes.fromhex("a8ab0bf0")
# class-path entries the launcher takes from the environment
CLASS_PATH_ENV = ("SPARK_DIST_CLASSPATH", "HADOOP_CONF_DIR", "YARN_CONF_DIR")
# how long interpreter exit waits for the driver JVM (a dump took 13-16 s)
JVM_EXIT_WAIT_S = 120
# Spark's Python daemon on a JVM get_spark launches (_daemon.py)
DAEMON_MODULE = "gpml2pvjson_js_spark._daemon"


class ClassDataSharing(NamedTuple):
    """The class-data sharing a driver JVM launches with: `mode` is
    "use" (maps the archive `detail`), "dump" (writes it at exit) or
    "off" (`detail` says why)."""
    mode: str
    detail: str
    # added to spark.driver.defaultJavaOptions
    options: str = ""
    # SPARK_CONF_DIR for the launch, when it must be redirected
    conf_dir: str | None = None
    # the file a dump writes before it is published as `detail`
    temp: str | None = None

    def __str__(self) -> str:
        return f"{self.mode}: {self.detail}"


_cds = ClassDataSharing("off", "get_spark has launched no driver JVM")


def host_cpus() -> int:
    """CPUs this process may run on (what `nproc` prints)."""
    return len(os.sched_getaffinity(0))


def default_driver_memory() -> str:
    """Half the host's RAM (MemTotal), capped at 24g: a fixed 24g heap
    on a smaller host lets the kernel OOM-kill the driver JVM, while
    half leaves room for the Python workers and the page cache."""
    total_mb = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE") \
        // (1024 * 1024)
    return f"{min(MAX_DRIVER_MEMORY_MB, total_mb // 2)}m"


def class_data_sharing() -> ClassDataSharing:
    """The class-data sharing of the driver JVM get_spark last
    launched in this process."""
    return _cds


def _entries(path: str) -> list[str]:
    try:
        return os.listdir(path)
    except FileNotFoundError:
        return []


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _java_home() -> str | None:
    """The JDK that Spark's launcher runs: JAVA_HOME, else the `java`
    on PATH."""
    if os.environ.get("JAVA_HOME"):
        return os.environ["JAVA_HOME"]
    java = shutil.which("java")
    return java and os.path.dirname(os.path.dirname(os.path.realpath(java)))


def _workers_import_package() -> bool:
    """Whether the Python workers of a local JVM launched now import
    this package: the daemon runs with `-m` in the JVM's working
    directory, which is this process's, on `PYTHONPATH` and
    site-packages."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = [os.getcwd(), *os.environ.get("PYTHONPATH", "").split(os.pathsep),
             *site.getsitepackages(), site.getusersitepackages()]
    return any(p and os.path.realpath(p) == os.path.realpath(root)
               for p in paths)


def plan_class_data_sharing(conf: dict) -> ClassDataSharing:
    """The class-data sharing of a driver JVM launched with the Spark
    settings `conf` and this environment (module docstring). Starts no
    JVM; makes the cache directory and, for a dump, its temp file."""
    def off(reason: str) -> ClassDataSharing:
        return ClassDataSharing("off", reason)

    java_options = " ".join(conf.get(f"spark.driver.{kind}JavaOptions", "")
                            for kind in ("default", "extra"))
    if re.search(r"-Xshare|SharedArchiveFile|ArchiveClassesAtExit",
                 java_options):
        return off("the driver's Java options set class-data sharing")
    if conf.get("spark.driver.extraClassPath"):
        return off("spark.driver.extraClassPath extends the class path")
    for name in CLASS_PATH_ENV:
        if os.environ.get(name):
            return off(f"{name} extends the class path")
    from pyspark.find_spark_home import _find_spark_home
    spark_home = _find_spark_home()
    conf_dir, redirect = os.environ.get("SPARK_CONF_DIR"), None
    if conf_dir:
        if _entries(conf_dir):
            return off(f"the conf directory {conf_dir} is not empty")
    else:
        default = os.path.join(spark_home, "conf")
        if not all(n.endswith(".template") for n in _entries(default)):
            return off(f"the conf directory {default} holds "
                       "configuration files")
        conf_dir = redirect = os.path.join(CDS_CACHE_DIR, "conf")
    java_home = _java_home()
    if not java_home:
        return off("no JDK found")
    try:
        with open(os.path.join(java_home, "release")) as f:
            release = f.read()
        digest = hashlib.sha256(
            f"{os.path.realpath(java_home)}\0{release}\0{conf_dir}".encode())
        jars = os.path.join(spark_home, "jars")
        for name in sorted(_entries(jars)):
            st = os.stat(os.path.join(jars, name))
            digest.update(
                f"\0{name}\0{st.st_size}\0{st.st_mtime_ns}".encode())
        os.makedirs(redirect or CDS_CACHE_DIR, exist_ok=True)
    except OSError as e:
        return off(str(e))
    if redirect and _entries(redirect):
        return off(f"the conf directory {redirect} is not empty")
    version = re.search(r'JAVA_RUNTIME_VERSION="([^"]+)"', release)
    key = (f"jdk-{version.group(1) if version else 'unknown'}-"
           f"{digest.hexdigest()[:16]}")
    archive = os.path.join(CDS_CACHE_DIR, f"{key}.jsa")
    if os.path.isfile(archive):
        return ClassDataSharing(
            "use", archive,
            f"-XX:SharedArchiveFile={archive} -Xshare:auto {CDS_QUIET}",
            redirect)
    try:
        with open(f"{archive}.off") as f:
            return off(f"no dump here: {f.read().strip()}")
    except FileNotFoundError:
        pass
    # a temp file is <archive>.<pid of its session>.<random>.tmp
    prefix = f"{key}.jsa."
    for name in _entries(CDS_CACHE_DIR):
        if name.startswith(prefix) and name.endswith(".tmp"):
            pid = int(name[len(prefix):].split(".")[0])
            if _alive(pid):
                return off(f"process {pid} is making the archive")
            os.remove(os.path.join(CDS_CACHE_DIR, name))
    fd, temp = tempfile.mkstemp(prefix=f"{prefix}{os.getpid()}.",
                                suffix=".tmp", dir=CDS_CACHE_DIR)
    os.close(fd)
    return ClassDataSharing(
        "dump", archive, f"-XX:ArchiveClassesAtExit={temp} {CDS_QUIET}",
        redirect, temp)


def publish_archive(cds: ClassDataSharing, exit_code: int | None) -> None:
    """After a dumping JVM has ended: publish its archive under its key
    if the JVM exited cleanly and the archive is complete. Otherwise
    drop the temp file, and if the JVM was not killed by a signal (it
    ran out of `JVM_EXIT_WAIT_S`, or exited with no archive), mark the
    key so that later sessions do not pay for a dump that cannot
    work."""
    try:
        with open(cds.temp, "rb") as f:
            complete = f.read(len(CDS_MAGIC)) == CDS_MAGIC
    except OSError:
        complete = False
    if exit_code == 0 and complete:
        os.replace(cds.temp, cds.detail)
        return
    try:
        os.remove(cds.temp)
    except OSError:
        pass
    if exit_code is None or exit_code >= 0:
        reason = (f"the dump outlived {JVM_EXIT_WAIT_S} s"
                  if exit_code is None else
                  f"a dump exited with code {exit_code} and no archive")
        with open(f"{cds.detail}.off", "w") as f:
            f.write(reason + "\n")


def _end_driver_jvm(proc: subprocess.Popen, cds: ClassDataSharing) -> None:
    """At interpreter exit: close the stdin of the driver JVM, which
    makes it exit, and wait for it, so that it does not outlive this
    process; a dumping JVM writes its archive as it exits. A running
    SparkContext is stopped first, or its accumulator server, still
    alive while this process waits, would print the JVM's hang-up as a
    traceback."""
    sc = SparkContext._active_spark_context
    if sc is not None:
        try:
            sc.stop()
        except Exception:
            pass  # the JVM is gone already; it only has to be waited for
    proc.stdin.close()
    try:
        code = proc.wait(JVM_EXIT_WAIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        code = None
    if cds.mode == "dump":
        publish_archive(cds, code)


def get_spark(
    app_name: str = "gpml2pvjson_js_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """The session, with this module's defaults: AQE, Arrow, explicit-
    only broadcasts, a driver heap sized to the host, the driver JVM's
    JIT options and class-data sharing, Spark's Python daemon replaced
    on a local master, and no DataFrame call-site capture (pyspark's
    `dataFrameDebugging`: errors lose the Python call site in their
    DataFrame query context; tracebacks are unchanged). `SPARK_GRAFT_CONF`
    (`k=v;k=v`) overrides the defaults, and `extra_conf` overrides
    both."""
    global _cds
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or host_cpus())
    master = master or f"local[{cpus}]"
    # local[N] / local[*]
    n = master.rstrip("]").rsplit("[", 1)[-1]
    if n in ("*", ""):
        parallelism = os.cpu_count()
    else:
        try:
            parallelism = int(n)
        except ValueError:
            parallelism = os.cpu_count()
    # ~8 tasks per core: small-enough shuffle partitions that a task's
    # working set fits its share of execution memory (measured: 64
    # partitions at 32 cores spilled and ran 2x slower than 256), with
    # AQE coalescing shrinking them back when data is small.
    shuffle_partitions = shuffle_partitions or max(8 * parallelism, 64)

    conf = {
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # Broadcasts are EXPLICIT-ONLY (F.broadcast hints on frames the
        # code asserts are dimension-scale); size-estimate-driven auto
        # broadcast is off at both decision points. In this pipeline
        # every non-hinted join side is corpus-scale, and the byte
        # heuristics both planners use (parquet bytes statically,
        # compressed shuffle bytes in AQE) under-estimate highly
        # compressible web-corpus frames by orders of magnitude:
        # measured at replicate 8192, AQE promoted a corpus-scale join
        # side whose compressed shuffle output looked broadcastable
        # into a 360 MB broadcast that deserialized into a >8 GB
        # UnsafeHashedRelation PER EXECUTOR — OOM-killing the fleet's
        # executors, and below the OOM threshold taxing every executor
        # with a redundant per-executor hash build that grows with
        # data (anti-scaling: N executors pay it once, 4N pay it 4x).
        # At 100 TB no corpus-derived frame is ever broadcastable, so
        # the honest policy is assert-don't-guess.
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.sql.execution.arrow.maxRecordsPerBatch": "2048",
        "spark.sql.session.timeZone": "UTC",
        "spark.driver.memory": (os.environ.get("SPARK_GRAFT_DRIVER_MEM")
                                or default_driver_memory()),
        "spark.ui.enabled": "false",
        # wide generated projections: keep plan stringification cheap
        # (plan-description generation of large CaseWhen trees otherwise
        # dominates driver time)
        "spark.sql.maxPlanStringLength": "65536",
        "spark.sql.debug.maxToStringFields": "10",
        # no Python call site in DataFrame query contexts (see the
        # module docstring): its capture costs 10 py4j round trips and a
        # stack walk on every F.col, and an IPython import on the first
        "spark.python.sql.dataFrameDebugging.enabled": "false",
        # defaultJavaOptions, which Spark prepends to extraJavaOptions,
        # so a caller's own extraJavaOptions adds to these, not replaces
        "spark.driver.defaultJavaOptions":
            f"-Duser.timezone=UTC {DRIVER_JIT_OPTIONS}",
        "spark.executor.defaultJavaOptions": "-Duser.timezone=UTC",
    }
    # Generic conf passthrough (semicolon-separated k=v pairs), the
    # local analog of spark-submit --conf: lets a deployment or a
    # bench experiment set e.g. spark.eventLog.* or spark.local.dir
    # without code changes. Explicit extra_conf wins over env.
    for item in filter(None,
                       os.environ.get("SPARK_GRAFT_CONF", "").split(";")):
        k, _, v = item.partition("=")
        conf[k.strip()] = v.strip()
    conf.update(extra_conf or {})
    # The driver JVM's options apply only if this call launches it:
    # no gateway yet, and none handed over by spark-submit.
    launch = (SparkContext._gateway is None
              and "PYSPARK_GATEWAY_PORT" not in os.environ)
    cds = plan_class_data_sharing(conf) if launch else None
    if launch and re.fullmatch(r"local(\[[^\]]*\])?", master) \
            and _workers_import_package():
        conf.setdefault("spark.python.daemon.module", DAEMON_MODULE)
    if cds and cds.options:
        conf["spark.driver.defaultJavaOptions"] += " " + cds.options
    builder = SparkSession.builder.master(master).appName(app_name)
    for k, v in conf.items():
        builder = builder.config(k, v)
    if cds and cds.conf_dir:
        os.environ["SPARK_CONF_DIR"] = cds.conf_dir
    try:
        spark = builder.getOrCreate()
    except BaseException:
        if cds and cds.temp:
            os.remove(cds.temp)
        raise
    finally:
        if cds and cds.conf_dir:
            del os.environ["SPARK_CONF_DIR"]
    if launch:
        _cds = cds
        atexit.register(_end_driver_jvm, spark.sparkContext._gateway.proc,
                        cds)
    spark.sparkContext.setLogLevel("WARN")
    return spark


def local_frame(spark: SparkSession, rows, schema: T.StructType | str) \
        -> DataFrame:
    """A small frame built on the driver from a list of tuples, as a
    JVM-local relation (`LocalTableScan`).

    `spark.createDataFrame(rows)` would turn the list into a Python RDD
    that re-pickles its rows: every job reading the frame (a broadcast,
    a collect) then runs one Python task per `defaultParallelism`
    slice, on a Python daemon of its own. A pyarrow table reaches the
    JVM as Arrow batches instead and is planned as a `LocalTableScan`,
    empty or not (an empty pandas frame or list silently falls back to
    the Python RDD). The schema's nullability is kept; a null in a
    non-nullable column raises."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    columns = list(zip(*rows)) or [()] * len(arrow_schema)
    table = pa.Table.from_arrays(
        [pa.array(c, type=f.type) for c, f in zip(columns, arrow_schema)],
        schema=arrow_schema)
    for f, c in zip(arrow_schema, table.columns):
        if not f.nullable and c.null_count:
            raise ValueError(f"null in non-nullable column {f.name!r}")
    return spark.createDataFrame(table, schema)
