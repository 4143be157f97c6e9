"""Parse stage + per-url byte-identical text invariant
(BASELINE.json input_hint; reference parity: incremental SAX parse,
src/spinoffs/cxml-xpath.ts)."""

import datetime

import pytest
from pyspark.sql import functions as F

from gpml2pvjson_js_spark.corpus import PAGES_SCHEMA, pages_df
from gpml2pvjson_js_spark.operators.parse import extracted_text, parse_gpml


def test_text_invariant_byte_identical(spark, pages):
    j = extracted_text(pages).join(pages.select("url", "text"), "url")
    assert j.filter(F.col("extracted_text") != F.col("text")).count() == 0
    assert j.count() == pages.count()


def test_corpus_deterministic(spark):
    a = pages_df(spark, 7).select("url", "html", "text").collect()
    b = pages_df(spark, 7).select("url", "html", "text").collect()
    assert a == b


def test_parse_element_classes(spark, pages):
    m = parse_gpml(pages)
    counts = {r["gpml_element_name"]: r["count"]
              for r in m.groupBy("gpml_element_name").count().collect()}
    for name in ["Pathway", "DataNode", "Interaction", "Group", "Anchor",
                 "State", "Shape", "Label", "PublicationXref",
                 "openControlledVocabulary", "GraphicalLine"]:
        assert counts.get(name, 0) > 0, name
    assert "_error" not in counts


def test_generated_ids_reference_scheme(spark, pages):
    """GraphIdManager parity (src/GraphIdManager.ts:31-53): counter
    starts at 0xa00, bumped past hex-parsable existing ids."""
    m = parse_gpml(pages)
    gen = m.filter(F.col("url").contains("/generated-ids/")
                   & ~F.col("graph_id_explicit")) \
        .select("graph_id").collect()
    assert [r["graph_id"] for r in gen] == ["pvjsgeneratedidfefb5"]


def test_quarantine_and_bare_gpml(spark):
    bad = [
        ("u1", datetime.datetime(2020, 1, 1),
         b'<html><body><script type="application/gpml+xml"><Pathway'
         b' xmlns="http://evil/ns"></Pathway></script></body></html>',
         "", "en"),
        ("u2", datetime.datetime(2020, 1, 1),
         b'<?xml version="1.0"?>\n<Pathway xmlns='
         b'"http://pathvisio.org/GPML/2013a" Name="a"></Pathway>\n'
         b'<?xml version="1.0"?>\n<Pathway xmlns='
         b'"http://pathvisio.org/GPML/2013a" Name="b"></Pathway>',
         "", "en"),
    ]
    m = parse_gpml(spark.createDataFrame(bad, schema=PAGES_SCHEMA))
    rows = m.collect()
    errs = [r for r in rows if r["gpml_element_name"] == "_error"]
    assert len(errs) == 1 and "unsupported-namespace" in errs[0]["error"]
    bare = [r for r in rows if r["url"] == "u2"]
    assert sorted(r["frag"] for r in bare) == [0, 1]


def test_extracted_text_matches_python_kernel_adversarial(spark):
    """The Catalyst regexp_extract_all/array_join form of
    extracted_text must agree with the row-at-a-time Python kernel
    (extract_page_text) on adversarial html shapes: newlines inside
    <p> (DOTALL), literal '</p>'-free truncation, nested/unclosed
    tags, empty bodies, no matches, multi-byte UTF-8, malformed UTF-8
    (one U+FFFD per maximal invalid subpart on both sides)."""
    from gpml2pvjson_js_spark.operators.parse import extract_page_text

    htmls = [
        b"<html><body><p>plain</p></body></html>",
        b"<p>line one\nline two</p><p>second</p>",
        b"<p>unclosed paragraph",
        b"no paragraphs at all",
        b"",
        b"<p></p><p>x</p>",
        b"<p>outer <p>inner</p> tail</p>",
        "<p>café ☃ \U0001f600</p>".encode("utf-8"),
        b"<p>first</p>\n\n<p>with <b>markup</b> kept</p>",
        b"<P>upper not matched</P><p>lower</p>",
        # malformed UTF-8: invalid start bytes, a sequence cut short,
        # an overlong form, a code point above U+10FFFF
        b"<p>bad \xff\xfe byte</p><p>cut \xe2\x98</p><p>end \xc3",
        b"<p>\xc0\xaf overlong</p><p>\xf4\x90\x80\x80 big</p>",
    ]
    rows = [(f"u{i}", h) for i, h in enumerate(htmls)]
    pages = spark.createDataFrame(rows, "url string, html binary")
    from gpml2pvjson_js_spark.operators.parse import extracted_text
    got = {r["url"]: r["extracted_text"]
           for r in extracted_text(pages).collect()}
    want = {f"u{i}": extract_page_text(h) for i, h in enumerate(htmls)}
    assert got == want


@pytest.mark.xfail(strict=True, reason=(
    "known divergence: Spark's binary->string cast turns an encoded "
    "surrogate (ED A0 80) into one U+FFFD, Python's errors='replace' "
    "into three; F.decode raises on it in Spark 4"))
def test_extracted_text_encoded_surrogate_matches_python_kernel(spark):
    from gpml2pvjson_js_spark.operators.parse import extract_page_text
    html = b"<p>\xed\xa0\x80 surrogate</p>"
    pages = spark.createDataFrame([("u", html)], "url string, html binary")
    got = extracted_text(pages).collect()[0]["extracted_text"]
    assert got == extract_page_text(html)
