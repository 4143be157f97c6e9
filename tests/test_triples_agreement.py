"""The golden scorer's two sides agree on the compiler's own output,
checked without Spark: every document of the benchmark's catalog
variants (perfbench/workloads.catalog) and of its `bulk` seed-1 corpus
is compiled in plain Python (document.compile_page_group), and the
flatten of its JSON-LD (golden.golden_triples) is its `model_triples`,
the pathway id as `PATHWAY_TOKEN`. So the triples `golden.pr_report`
scores are the ones the JSON-LD it inverts carries. Only reads
perfbench/."""

import json
import random

import pytest

from gpml2pvjson_js_spark import golden
from gpml2pvjson_js_spark.operators.document import compile_page_group
from tests.test_pins_offline import INDEX, workloads


def _disagreements(url: str, html: bytes) -> tuple[int, list]:
    """The page's documents, and the frags of those whose JSON-LD
    flattens to other triples than their model triples."""
    rows = compile_page_group([(url, html)], INDEX)
    bad = []
    for doc in rows["documents"]:
        want = {(golden.PATHWAY_TOKEN if t["subj"] == t["pathway_id"]
                 else t["subj"], t["pred"], t["obj"])
                for t in rows["model_triples"] if t["frag"] == doc["frag"]}
        got = golden.golden_triples(json.loads(doc["jsonld"]))
        if got != want:
            bad.append((doc["frag"], sorted(got ^ want)[:5]))
    return len(rows["documents"]), bad


@pytest.mark.parametrize("kind, variant", workloads.catalog(),
                         ids=lambda v: str(v))
def test_catalog_jsonld_flattens_to_its_model_triples(kind, variant):
    url = f"https://agree.example/{kind}/{variant}"
    page = workloads.page(kind, variant, url, random.Random(0))
    _, bad = _disagreements(url, page["html"])
    assert bad == []


def test_bulk_seed_1_jsonld_flattens_to_its_model_triples():
    docs, bad = 0, []
    for page in workloads.plan("bulk", 1):
        n, b = _disagreements(page["url"], page["html"])
        docs += n
        bad += [(page["url"], *x) for x in b]
    assert docs > 300 and bad == []


def test_pr_report_scores_the_compilers_own_documents(tmp_path):
    """With the catalog's own JSON-LD as the goldens, the scorer (each
    golden rendered back to GPML and compiled again) finds every
    triple: P = R = 1 over every document."""
    n = 0
    for kind, variant in workloads.catalog():
        url = f"https://agree.example/{kind}/{variant}"
        page = workloads.page(kind, variant, url, random.Random(0))
        rows = compile_page_group([(url, page["html"])], INDEX)
        for doc in rows["documents"]:
            (tmp_path / f"{kind}-{variant}-{doc['frag']}.json").write_text(
                doc["jsonld"])
            n += 1
    rep = golden.pr_report(str(tmp_path))
    agg = rep["aggregate"]
    assert rep["status"] == "ok" and agg["n_fixtures"] == n > 60
    assert agg["precision"] == agg["recall"] == 1.0, [
        (k, v["missing"], v["extra"]) for k, v in rep["fixtures"].items()
        if v["missing"] or v["extra"]][:3]
