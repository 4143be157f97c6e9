#!/usr/bin/env python3
"""Extra benchmarks for optimization work (bench.py is FROZEN for
measurement — this file exists so experiments never touch it).

Modes:
  python bench_extra.py pipeline [K]   K reps of the snapshot pipeline
                                       (warm JVM, cold data) + lazy
                                       probe, one JSON line like
                                       bench.py's queries dict per rep.
  python bench_extra.py micro [K]      K reps of the 10 headline micro
                                       queries via the noop sink.
  python bench_extra.py stage NAME [K] K pipeline runs, each with a
                                       noop sink of ONE stage's
                                       committed frame (NAME is one of
                                       plans.pipeline.STAGES).

Same env contract as bench.py (SPARK_GRAFT_SF_DIR / _CPUS).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS")
           or len(os.sched_getaffinity(0)))  # nproc


def _spark():
    from gpml2pvjson_js_spark.session import get_spark
    return get_spark(app_name="bench_extra", master=f"local[{CPUS}]",
                     shuffle_partitions=256)


def pipeline_reps(k: int) -> None:
    tmp = tempfile.mkdtemp(prefix="kgbx_")
    try:
        _pipeline_reps(k, tmp)
    finally:
        # the warmup and per-rep snapshot stores
        shutil.rmtree(tmp, ignore_errors=True)


def _pipeline_reps(k: int, tmp: str) -> None:
    import bench as B
    spark = _spark()
    B.run_pipeline_measured(spark, "/root/testdata/sf0.001",
                            f"{tmp}/warmup")
    for i in range(k):
        c0 = B._contention_sample()
        n, wall, stages, _f = B.run_pipeline_measured(
            spark, SF_DIR, f"{tmp}/m{i}")
        n_lazy, lazy_sec = B._lazy_probe(spark, SF_DIR, f"{tmp}/lazy{i}")
        rep = {"rep": i, "kg_pipeline_exec": round(wall, 3),
               "triples_per_sec": round(n / wall, 1),
               "kg_lazy_exec": round(lazy_sec, 3),
               **B._contention_pct(c0, B._contention_sample()),
               **{f"kg_stage_{s}": round(ms / 1000.0, 3)
                  for s, ms in stages.items()}}
        print(json.dumps(rep), flush=True)


def micro_reps(k: int) -> None:
    import __spark_entry__ as entrymod
    spark = _spark()
    names = ["agg_pricing_summary", "two_hop_join", "window_ordinal",
             "bbox_agg", "dedup_exact", "minhash_lsh_pairs", "lang_id",
             "quality_score", "ann_bruteforce", "ann_lsh"]
    qmap = entrymod.queries()
    for i in range(k + 1):  # rep 0 is warmup
        rep = {"rep": i - 1}
        for name in names:
            t0 = time.time()
            qmap[name](spark, SF_DIR).write.format("noop") \
                .mode("overwrite").save()
            rep[name] = round(time.time() - t0, 3)
        if i > 0:
            print(json.dumps(rep), flush=True)


def stage_noop(name: str, k: int) -> None:
    """Run the pipeline and noop-sink ONE of its stages. The snapshot
    root is fresh per rep (no cross-rep resume), so each rep times the
    pass, its commit and the read of that stage."""
    tmp = tempfile.mkdtemp(prefix="kgbx_stage_")
    try:
        _stage_noop(name, k, tmp)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def _stage_noop(name: str, k: int, tmp: str) -> None:
    from gpml2pvjson_js_spark.corpus import pages_from_documents
    from gpml2pvjson_js_spark.plans.pipeline import Pipeline

    spark = _spark()

    def frame(sf_dir, root):
        pages = pages_from_documents(spark, sf_dir)
        return Pipeline(spark, pages, root).run(resume=False)[name]

    frame("/root/testdata/sf0.001", f"{tmp}/warmup").write \
        .format("noop").mode("overwrite").save()
    for i in range(k):
        t0 = time.time()
        frame(SF_DIR, f"{tmp}/m{i}").write.format("noop") \
            .mode("overwrite").save()
        print(json.dumps({"rep": i, "stage": name,
                          "sec": round(time.time() - t0, 3)}),
              flush=True)


if __name__ == "__main__":
    mode = sys.argv[1] if len(sys.argv) > 1 else "pipeline"
    if mode == "pipeline":
        pipeline_reps(int(sys.argv[2]) if len(sys.argv) > 2 else 3)
    elif mode == "micro":
        micro_reps(int(sys.argv[2]) if len(sys.argv) > 2 else 3)
    elif mode == "stage":
        stage_noop(sys.argv[2],
                   int(sys.argv[3]) if len(sys.argv) > 3 else 3)
    else:
        raise SystemExit(f"unknown mode {mode}")
