#!/usr/bin/env python3
"""Dump .explain("formatted") for every declared query plus the KG
pipeline's one pass, to a directory.

Usage:
    python tools/explain_dump.py OUTDIR [SUFFIX] [--only name1,name2]

Writes OUTDIR/<name>_<SUFFIX>.txt (SUFFIX default "before").
`stage_pass` is the plan of the one pass per page as `Pipeline.run`
runs it: the pages laid out on the snapshot keys (the batch's one
exchange), sorted within partitions, and the mapInArrow that writes
every stage's snapshot; the stages themselves are its files, with no
plan of their own. Plans only: nothing runs. Do not run it alongside a
bench.
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

    # the one pass per page, as Pipeline.run runs it: the pages laid
    # out on the snapshot keys (the batch's one exchange), sorted, and
    # the mapInArrow that writes every stage
    if only is None or "stage_pass" in only:
        import tempfile

        from gpml2pvjson_js_spark.corpus import pages_from_documents
        from gpml2pvjson_js_spark.operators.assemble import pass_frame
        from gpml2pvjson_js_spark.plans.pipeline import STAGES, SnapshotStore

        pages = pages_from_documents(spark, SF_DIR)
        with tempfile.TemporaryDirectory() as root:
            dump("stage_pass", pass_frame(spark, pages, SnapshotStore(root),
                                          STAGES)[0])

    spark.stop()


if __name__ == "__main__":
    main()
