#!/usr/bin/env python3
"""Dump .explain("formatted") for every declared query plus the KG
pipeline stage frames and the lazy-probe DAG, to a directory.

Usage:
    python tools/explain_dump.py OUTDIR [SUFFIX] [--only name1,name2]

Writes OUTDIR/<name>_<SUFFIX>.txt (SUFFIX default "before").
Plans only — nothing is executed, so this is safe to run alongside
nothing else in a few seconds and does not perturb bench numbers.
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def _plan(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def main() -> None:
    outdir = sys.argv[1]
    suffix = sys.argv[2] if len(sys.argv) > 2 \
        and not sys.argv[2].startswith("--") else "before"
    only = None
    if "--only" in sys.argv:
        only = set(sys.argv[sys.argv.index("--only") + 1].split(","))
    os.makedirs(outdir, exist_ok=True)

    from gpml2pvjson_js_spark.session import get_spark
    import __spark_entry__ as entrymod

    spark = get_spark(app_name="explain_dump")

    def dump(name: str, df) -> None:
        if only is not None and name not in only:
            return
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as f:
            f.write(_plan(df))
        print(f"wrote {path}")

    # declared queries (the oracle surface)
    for name, fn in entrymod.queries().items():
        if only is not None and name not in only:
            continue
        try:
            dump(name, fn(spark, SF_DIR))
        except Exception as e:  # noqa: BLE001
            print(f"SKIP {name}: {e}")

    # pipeline stage frames (what the headline bench times), built the
    # way the snapshot pipeline builds them, pre-commit
    if only is None or any(n.startswith("stage_") or n == "lazy_dag"
                           for n in only):
        from gpml2pvjson_js_spark.corpus import pages_from_documents
        from gpml2pvjson_js_spark.operators.assemble import (
            build_document_model)
        from gpml2pvjson_js_spark.operators.canonicalize import (
            canonical_triples)
        from gpml2pvjson_js_spark.operators.interactions import (
            classify_interactions)
        from gpml2pvjson_js_spark.operators.linking import link_entities
        from gpml2pvjson_js_spark.operators.triples import build_triples

        pages = pages_from_documents(spark, SF_DIR)
        model = build_document_model(spark, pages)
        for s in ("nodes", "edges", "citations", "vocabularies",
                  "pathways"):
            dump(f"stage_{s}", model[s])
        dump("stage_interactions", classify_interactions(model))
        dump("stage_linked", link_entities(model))
        dump("stage_triples", build_triples(model))
        dump("stage_canonical_triples", canonical_triples(model))

        # the lazy probe DAG (bench.py _lazy_probe)
        lazy_model = build_document_model(spark, pages)
        lazy = build_triples(lazy_model)
        dump("lazy_dag", lazy)

    spark.stop()


if __name__ == "__main__":
    main()
