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
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

MAX_DRIVER_MEMORY_MB = 24 * 1024
# tier-4 thresholds at 20x HotSpot's defaults (5000/600/15000/40000)
DRIVER_JIT_OPTIONS = (
    "-XX:Tier4InvocationThreshold=100000 "
    "-XX:Tier4MinInvocationThreshold=12000 "
    "-XX:Tier4CompileThreshold=300000 "
    "-XX:Tier4BackEdgeThreshold=800000")


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


def get_spark(
    app_name: str = "gpml2pvjson_js_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or host_cpus())
    master = master or f"local[{cpus}]"
    # local[N] / local[*] / local-cluster[n,cores,mem]
    n = master.rstrip("]").rsplit("[", 1)[-1]
    if "," in n:  # local-cluster: n_workers * cores_per_worker
        try:
            workers, cores = n.split(",")[:2]
            parallelism = int(workers) * int(cores)
        except ValueError:
            parallelism = os.cpu_count()
    elif n in ("*", ""):
        parallelism = os.cpu_count()
    else:
        try:
            parallelism = int(n)
        except ValueError:
            parallelism = os.cpu_count()
    # ~8 tasks per core: small-enough shuffle partitions that a task's
    # working set fits its share of execution memory (measured: 64
    # partitions at 32 cores spilled and ran 2x slower than 256), with
    # AQE coalescing shrinking them back when data is small. The same
    # setting works across cluster sizes, which is what makes the
    # N -> 4N scaling comparison honest.
    shuffle_partitions = shuffle_partitions or max(8 * parallelism, 64)

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
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
        .config("spark.sql.autoBroadcastJoinThreshold",
                os.environ.get("SPARK_GRAFT_AUTOBROADCAST", "-1"))
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold",
                os.environ.get("SPARK_GRAFT_AUTOBROADCAST", "-1"))
        # Production defaults match Spark's (128m / 4m): at 100 TB a
        # 16m packing size would mean ~6M scan partitions per table.
        # The REPLICATED bench corpora are the special case — they
        # compress ~1000x in parquet, so byte-based packing at 128 MB
        # collapses a 64-file stage into ONE map task (a single thread
        # decoding tens of millions of rows). The scaling bench
        # therefore sets SPARK_GRAFT_MAX_PARTITION_BYTES=16m in ITS
        # environment only (bench.py scaling path), keeping the
        # session factory honest for real data.
        .config("spark.sql.files.maxPartitionBytes",
                os.environ.get("SPARK_GRAFT_MAX_PARTITION_BYTES", "128m"))
        .config("spark.sql.files.openCostInBytes",
                os.environ.get("SPARK_GRAFT_OPEN_COST_BYTES", "4m"))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM")
                or default_driver_memory())
        .config("spark.ui.enabled", "false")
        # wide generated projections: keep plan stringification cheap
        # (plan-description generation of large CaseWhen trees otherwise
        # dominates driver time)
        .config("spark.sql.maxPlanStringLength", "65536")
        .config("spark.sql.debug.maxToStringFields", "10")
        # defaultJavaOptions, which Spark prepends to extraJavaOptions,
        # so a caller's own extraJavaOptions adds to these, not replaces
        .config("spark.driver.defaultJavaOptions",
                f"-Duser.timezone=UTC {DRIVER_JIT_OPTIONS}")
        .config("spark.executor.defaultJavaOptions", "-Duser.timezone=UTC")
    )
    # Generic conf passthrough (semicolon-separated k=v pairs), the
    # local analog of spark-submit --conf: lets a deployment or a
    # bench experiment set e.g. spark.eventLog.* or spark.local.dir
    # without code changes. Explicit extra_conf wins over env.
    for item in filter(None,
                       os.environ.get("SPARK_GRAFT_CONF", "").split(";")):
        k, _, v = item.partition("=")
        builder = builder.config(k.strip(), v.strip())
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
