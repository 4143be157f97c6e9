"""The benchmark's pinned outputs (perfbench/pins.json), checked without
Spark: every catalog variant (perfbench/workloads.catalog) is compiled
in plain Python (document.compile_page_group), each output is built as
the pass builds it (assemble.stage_table), and its rows are summarized
with the benchmark's own normalization (perfbench/check.py `_key` and
`summarize_page`). Only reads perfbench/."""

import collections
import importlib.util
import os
import random

import pytest
from pyspark.sql import types as T

from gpml2pvjson_js_spark.operators import assemble, frames
from gpml2pvjson_js_spark.operators.document import compile_page_group
from gpml2pvjson_js_spark.operators.linking import link_index
from gpml2pvjson_js_spark.plans.pipeline import STAGES

PERFBENCH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "perfbench")


def _load(name: str):
    spec = importlib.util.spec_from_file_location(
        f"perfbench_{name}", os.path.join(PERFBENCH, f"{name}.py"))
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    return module


check, workloads = _load("check"), _load("workloads")
PINS = check.load_pins()
INDEX = link_index()
SINKS = {stage: assemble._sink(
    stage, "", T.StructType([*frames.OUTPUTS[stage].frame.fields,
                             assemble.BUCKET]),
    frames.OUTPUTS[stage], "pins") for stage in STAGES if stage != "text"}


def _outputs(rows: dict) -> dict[str, list[dict]]:
    """Each output's rows of one page, as its Arrow table holds them."""
    out = {}
    for stage, sink in SINKS.items():
        recs = [r for role in sink.roles for r in rows.get(role, ())]
        out[stage] = assemble.stage_table(sink, recs, [0] * len(recs)) \
            .drop(["bucket"]).to_pylist()
    return out


@pytest.mark.parametrize("kind, variant", workloads.catalog(),
                         ids=lambda v: str(v))
def test_variant_matches_its_pin(kind, variant):
    page = workloads.page(kind, variant, f"https://pin.example/{kind}/0",
                          random.Random(0))
    outputs = _outputs(compile_page_group([(page["url"], page["html"])],
                                          INDEX))
    quarantine = collections.Counter(
        r["error"].split(":", 1)[0] for r in outputs["quarantine"])
    summary = check.summarize_page(
        {s: [check._key(r) for r in rs] for s, rs in outputs.items()},
        quarantine, None, STAGES)
    assert check.pin_of(summary, STAGES) == PINS[page["key"]]
