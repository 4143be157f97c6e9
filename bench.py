#!/usr/bin/env python3
"""Benchmark: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": "triples_per_sec", "value": N, "unit": "sec",
   "queries": {...per-query seconds...}, "sf": ...}

The headline metric is end-to-end KG-construction throughput
(pages -> parse -> document model -> classification -> triples ->
linking -> canonicalization), reported as triples/sec.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS")
           or len(os.sched_getaffinity(0)))  # nproc
PREFLIGHT_WAIT_S = 600


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
    the clean number lived only in prose). So the preflight WAITS for
    the box to go idle (up to PREFLIGHT_WAIT_S — long enough for a
    finishing pytest/driver JVM to exit and its load to decay) and, if
    it never does, REFUSES to produce a number (exit 2) instead of
    emitting a poisoned one."""
    deadline = time.time() + PREFLIGHT_WAIT_S
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
        print(f"bench preflight REFUSED: load1={load1:.1f}, "
              f"{len(strays)} stray java/pytest processes after "
              f"waiting {waited:.0f}s — a measurement now would be "
              "contaminated. Idle the box and re-run.", file=sys.stderr)
        sys.exit(2)
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
    to bursts of this contention (see BENCH/PLANS.md round 5)."""
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
    """Self-flag a measured window that sampled external contention:
    hypervisor steal > 1.5% of CPU, or the shared virtio disk > 15%
    busy, both measured to move run times by far more than their share
    (BENCH/PLANS.md rounds 4-5). The preflight can only see contention
    that exists BEFORE the run; a burst arriving mid-window (observed:
    13.8% steal inside a window whose launch probe read 0.002%) would
    otherwise ship a slow number with no marker. With the flag, an
    artifact is self-certifying either way: `contaminated` absent
    means the measured window itself was clean."""
    flags = []
    steal = sanity.get("steal_pct")
    if steal is not None and steal > 1.5:
        flags.append(f"steal {steal}%")
    busy = sanity.get("disk_busy_pct")
    if busy is not None and busy > 15.0:
        flags.append(f"disk_busy {busy}%")
    if flags:
        sanity["contaminated"] = True
        sanity["contamination"] = flags
        print("WARNING: bench measured window sampled external "
              f"contention ({', '.join(flags)}) — timings from this "
              "run are upper bounds, not clean numbers",
              file=sys.stderr)


def run_pipeline_measured(spark, sf_dir: str,
                          out_root: str) -> tuple[int, float, dict, dict]:
    """Snapshot pipeline (the production path) over the derived
    corpus; returns (n_triples, wall_sec, per_stage_ms, footer_ms)."""
    import shutil
    from gpml2pvjson_js_spark.corpus import pages_from_documents
    from gpml2pvjson_js_spark.plans.pipeline import Pipeline

    shutil.rmtree(out_root, ignore_errors=True)
    pages = pages_from_documents(spark, sf_dir)
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


def _lazy_probe(spark, sf_dir: str) -> tuple[int, float]:
    """One model build, one count — pure compute window. The build
    computes the compiler's staging, so the window starts before it."""
    from gpml2pvjson_js_spark.corpus import pages_from_documents
    import gpml2pvjson_js_spark.operators.assemble as A
    from gpml2pvjson_js_spark.operators.triples import build_triples
    pages = pages_from_documents(spark, sf_dir)
    t0 = time.time()
    model = A.build_document_model(spark, pages)
    n_lazy = build_triples(model).count()
    return n_lazy, time.time() - t0


def main() -> dict:
    tmp = tempfile.mkdtemp(prefix="kgbench_")
    try:
        return _measure(tmp)
    finally:
        # the warmup and measured snapshot stores
        shutil.rmtree(tmp, ignore_errors=True)


def _measure(tmp: str) -> dict:
    repo_dir = os.path.dirname(os.path.abspath(__file__))
    sys.path.insert(0, repo_dir)
    from gpml2pvjson_js_spark.session import get_spark
    import __spark_entry__ as entrymod

    sanity = load_sanity()
    # 256 shuffle partitions (8 tasks/core at 32 cores), with AQE
    # coalescing shrinking them at runtime when data is small.
    # Measured: 64 partitions at 32 cores overflowed per-task
    # execution memory and ran 2x slower.
    spark = get_spark(app_name="bench", master=f"local[{CPUS}]",
                      shuffle_partitions=256)
    queries: dict[str, float] = {}

    # warmup: small corpus through the same plans — compiles codegen,
    # spins up python workers, JITs the hot paths
    t0 = time.time()
    run_pipeline_measured(spark, "/root/testdata/sf0.001",
                          f"{tmp}/warmup")
    queries["kg_warmup"] = round(time.time() - t0, 3)

    # measured run (cold data, warm JVM) — the reported number
    cont0 = _contention_sample()
    n_triples, kg_sec, stages, _footers = run_pipeline_measured(
        spark, SF_DIR, f"{tmp}/measured")
    sanity.update(_contention_pct(cont0, _contention_sample()))
    _flag_window(sanity)
    queries["kg_pipeline_exec"] = round(kg_sec, 3)
    for s, ms in stages.items():
        queries[f"kg_stage_{s}"] = round(ms / 1000.0, 3)

    n_lazy, lazy_sec = _lazy_probe(spark, SF_DIR)
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
    return {
        "metric": "triples_per_sec",
        "value": value,
        "unit": "sec",
        "queries": queries,
        "sf": _sf_from_dir(SF_DIR),
        "n_triples": n_triples,
        "cpus": CPUS,
        **sanity,
    }


if __name__ == "__main__":
    print(json.dumps(main()))
