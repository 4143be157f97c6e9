"""The unit of work of one run of each workload.

`PipelineRun` is one `plans.pipeline.Pipeline.run(resume=False)` into
its own snapshot root: the production scheduler (stage priority, the
stage pool, the model lock, block release) over all thirteen stages.

`Ingest` runs only the page-proportional stages (mentions, quarantine,
text) on the schedule `Pipeline.run` gives them: mentions and text are
eligible at once and go to a four-worker pool together, quarantine
filters the committed mentions once they land. It uses the operator
entry points as the pipeline module resolves them and
SnapshotStore.commit.
"""

from __future__ import annotations

from concurrent.futures import ThreadPoolExecutor

from pyspark.sql import functions as F

from gpml2pvjson_js_spark.plans import pipeline as P

WORKERS = 4  # Pipeline.run's default stage pool


class PipelineRun:
    STAGES = tuple(P.STAGES)

    def __init__(self, spark, pages, out_root: str):
        self.pipeline = P.Pipeline(spark, pages, out_root)

    def run(self) -> None:
        self.pipeline.run(resume=False)


class Ingest:
    STAGES = ("mentions", "quarantine", "text")

    def __init__(self, spark, pages, out_root: str):
        self.pages = pages
        self.store = P.SnapshotStore(out_root)

    def stage(self, name: str, build):
        return self.store.commit(build(), name)

    def run(self) -> None:
        pages = self.pages
        with ThreadPoolExecutor(max_workers=WORKERS) as ex:
            mentions = ex.submit(self.stage, "mentions",
                                 lambda: P.parse_gpml(pages))
            text = ex.submit(self.stage, "text",
                             lambda: P.extracted_text(pages))
            parsed = mentions.result()
            ex.submit(self.stage, "quarantine", lambda: parsed.filter(
                F.col("gpml_element_name") == "_error")).result()
            text.result()


RUNNERS = {"ingest": Ingest, "pipeline": PipelineRun}

# the methods that run one stage on a pool thread, called with the
# stage name first
STAGE_METHODS = (P.Pipeline._stage, Ingest.stage)
