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
  python bench_extra.py stage NAME [K] noop-sink isolation of one
                                       pipeline stage frame (guide
                                       §1.4): times the computation,
                                       not the snapshot write.

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
        n_lazy, lazy_sec = B._lazy_probe(spark, SF_DIR)
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
    """Build the pipeline frames lazily and noop-sink ONE of them —
    isolates compute from the snapshot write. Stage frames are built
    fresh per rep (no cross-rep caching)."""
    from gpml2pvjson_js_spark.corpus import pages_from_documents
    from gpml2pvjson_js_spark.operators.assemble import (
        build_document_model)
    from gpml2pvjson_js_spark.operators.canonicalize import (
        canonicalize_linked, rewrite_triples)
    from gpml2pvjson_js_spark.operators.interactions import (
        classify_interactions)
    from gpml2pvjson_js_spark.operators.linking import (
        link_entities, xref_dictionary)
    from gpml2pvjson_js_spark.operators.parse import parse_gpml
    from gpml2pvjson_js_spark.operators.triples import build_triples

    spark = _spark()

    def frame(sf_dir):
        pages = pages_from_documents(spark, sf_dir)
        if name == "mentions":
            return parse_gpml(pages)
        model = build_document_model(spark, pages)
        if name in model:
            return model[name]
        if name == "interactions":
            return classify_interactions(model)
        if name == "triples":
            return build_triples(model)
        xd = xref_dictionary(spark)
        linked = link_entities(model["nodes"], xd)
        if name == "linked":
            return linked
        return rewrite_triples(build_triples(model),
                               canonicalize_linked(linked, xd))

    frame("/root/testdata/sf0.001").write.format("noop") \
        .mode("overwrite").save()  # warmup
    for i in range(k):
        t0 = time.time()
        frame(SF_DIR).write.format("noop").mode("overwrite").save()
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
