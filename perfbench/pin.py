#!/usr/bin/env python3
"""Regenerate perfbench/pins.json from the current tree.

    python3 perfbench/pin.py

Run from the repository root. Every catalog variant (workloads.catalog)
is rendered on two pages with different urls and run through one
`Pipeline.run` (stages.PipelineRun); the two pages of a variant must
give the same normalized output, which is then pinned. Re-pin only when a change is
meant to alter the pipeline's output, and say so in the change.
"""

from __future__ import annotations

import collections
import json
import os
import random
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))


def main() -> int:
    repo = os.getcwd()
    sys.path[:0] = [repo, HERE]
    os.environ["PYTHONPATH"] = repo
    import check
    import run
    import stages
    import workloads as W
    from gpml2pvjson_js_spark.session import get_spark

    all_stages = stages.PipelineRun.STAGES

    pages = []
    for n, (kind, variant) in enumerate(W.catalog()):
        for domain in ("hot.example", "site7.example"):
            p = W.page(kind, variant, f"https://{domain}/{kind}/pin-{n}",
                       random.Random(n))
            p["warc_ts"] = W._EPOCH
            pages.append(p)

    tmp = tempfile.mkdtemp(prefix="perfbench-pin-", dir=repo)
    try:
        W.write_pages(pages, os.path.join(tmp, "pages"), 4)
        spark = get_spark(app_name="perfbench-pin",
                          master=f"local[{len(os.sched_getaffinity(0))}]",
                          extra_conf=run.spark_conf(tmp))
        try:
            df = spark.read.schema(W.PAGES_DDL).parquet(
                os.path.join(tmp, "pages"))
            root = os.path.join(tmp, "out")
            stages.PipelineRun(spark, df, root).run()
            got = check.page_outputs(root, all_stages)
        finally:
            run.stop_spark(spark)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    variants: dict[str, dict] = {}
    problems = []
    for p in pages:
        summary = check.summarize_page(
            collections.defaultdict(list), {}, None, all_stages)
        summary.update(got.get(p["url"], {}))
        if summary.get("text") != p["text"]:
            problems.append(f"{p['url']}: extracted text differs")
        pin = {k: v for k, v in summary.items() if k != "text"}
        if variants.setdefault(p["key"], pin) != pin:
            problems.append(f"{p['key']}: output depends on the url")
    if problems:
        print("\n".join(problems), file=sys.stderr)
        return 1
    with open(check.PINS_PATH, "w") as f:
        json.dump({"variants": dict(sorted(variants.items()))}, f,
                  indent=1, sort_keys=True)
        f.write("\n")
    print(f"pinned {len(variants)} variants to {check.PINS_PATH}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
