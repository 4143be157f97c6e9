import json
import os

import pytest

from gpml2pvjson_js_spark.corpus import pages_df
from gpml2pvjson_js_spark.golden import EXPECTED_DIR
from gpml2pvjson_js_spark.operators.interactions import classify_interactions
from gpml2pvjson_js_spark.operators.triples import build_triples
from gpml2pvjson_js_spark.plans.pipeline import Pipeline
from gpml2pvjson_js_spark.session import get_spark

N_PAGES = 15  # one page per fixture class (PAGE_MIX), no giants


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", master="local[8]")
    yield s


@pytest.fixture(scope="session")
def pages(spark):
    return pages_df(spark, N_PAGES, giant_every=0).cache()


@pytest.fixture(scope="session")
def model(spark, pages, tmp_path_factory):
    return Pipeline(spark, pages, str(tmp_path_factory.mktemp("model"))) \
        .run(resume=False)


@pytest.fixture(scope="session")
def interactions(model):
    return classify_interactions(model)


@pytest.fixture(scope="session")
def triples(model):
    return build_triples(model)


@pytest.fixture(scope="session")
def golden():
    """Reference golden outputs (read-only oracle)."""
    if not os.path.isdir(EXPECTED_DIR):
        pytest.skip(f"reference goldens absent: {EXPECTED_DIR} not found")

    def load(name):
        with open(f"{EXPECTED_DIR}/{name}.json") as f:
            return json.load(f)
    return load


def compiled_rows(gpml: str, url: str = "https://t.example/doc",
                  index=None) -> dict:
    """The document compiler's rows by role for one GPML document,
    compiled in plain Python from what the pass hands it: the ok rows
    of the page's mentions (parse.page_mentions), linked against
    `index` (the dictionary's by default)."""
    from gpml2pvjson_js_spark.operators.document import compile_document
    from gpml2pvjson_js_spark.operators.linking import link_index
    from gpml2pvjson_js_spark.operators.parse import page_mentions
    page = f'<script type="application/gpml+xml">\n{gpml}\n</script>'
    return compile_document(
        [r for r in page_mentions(url, page.encode())
         if r["gpml_element_name"] != "_error"], index or link_index())


def rows_by_id(df, url_part):
    from pyspark.sql import functions as F
    out = {}
    for r in df.filter(F.col("url").contains(url_part)).collect():
        d = {k: v for k, v in r.asDict().items() if v is not None}
        out[d["id"]] = d
    return out


def _rank_key(node: str) -> str:
    """Representative order of a sameAs component: IRIs (http(s), no
    '#') sort before mention keys / plain ids."""
    is_iri = (node.startswith("http://") or node.startswith("https://")) \
        and "#" not in node
    return ("0" if is_iri else "1") + node


def _uf_components(edges: list[tuple[str, str]]) -> dict[str, str]:
    """Brute-force oracle: undirected edges -> {node: min-`_rank_key`
    member of its component}."""
    parent: dict[str, str] = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    groups: dict[str, list[str]] = {}
    for n in parent:
        groups.setdefault(find(n), []).append(n)
    out = {}
    for members in groups.values():
        rep = min(members, key=_rank_key)
        for n in members:
            out[n] = rep
    return out
