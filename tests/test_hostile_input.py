"""Hostile input never fails a page (document.compile_page_group): a
numeric attribute that is not a number reads as null, and a document
or page that still raises is quarantined alone. Plain Python, no
Spark."""

from xml.sax.saxutils import escape, quoteattr

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import types as T

from gpml2pvjson_js_spark import corpus as C
from gpml2pvjson_js_spark.operators import assemble, document, frames
from gpml2pvjson_js_spark.operators.document import compile_page_group
from gpml2pvjson_js_spark.operators.linking import link_index

INDEX = link_index()
URL = "https://hostile.example/page"


def _page(*gpml: str) -> bytes:
    return "".join(f'<script type="application/gpml+xml">\n{g}\n</script>'
                   for g in gpml).encode()


def _tables(rows: dict) -> None:
    """Build every output's Arrow table of `rows`, as the pass does."""
    for stage, out in frames.OUTPUTS.items():
        if stage == "text":
            continue
        schema = T.StructType([*out.frame.fields, assemble.BUCKET])
        sink = assemble._sink(stage, "", schema, out, "test")
        recs = [r for role in sink.roles for r in rows.get(role, ())]
        assemble.stage_table(sink, recs, [0] * len(recs))


# every numeric attribute the parse reads with `float`, the Rotation
# the converters cast, and a citation's YEAR
_ATTRS = ("CenterX", "CenterY", "Width", "Height", "ZOrder",
          "LineThickness", "FontSize", "FillOpacity", "Rotation",
          "StateRelX", "StateRelY", "X", "Y", "RelX", "RelY", "Position",
          "BoardWidth", "BoardHeight")
_HOSTILE = st.one_of(
    st.sampled_from([
        "abc", "0x10", "NaN", "nan", "-inf", "inf", "Infinity", "1e400",
        "-1e400", "1_0", " 1 ", "12px", "1,5", "0x1p99999", "--1", ".",
        "1e", "+", "Top", "Left", "99999999999999999999", "-0", "1" * 5000,
        "10", "0.5", "-3", "2005"]),
    st.floats().map(repr),
    st.text(st.characters(blacklist_categories=("Cs", "Cc")), max_size=8))


def _hostile_gpml(v: dict) -> str:
    a = {k: quoteattr(x) for k, x in v.items()}
    return "\n".join([
        f'<Pathway xmlns="{C.GPML_NS}" Name="hostile">',
        f'  <Graphics BoardWidth={a["BoardWidth"]} '
        f'BoardHeight={a["BoardHeight"]} />',
        '  <DataNode TextLabel="A" GraphId="a" Type="GeneProduct">',
        f'    <Graphics CenterX={a["CenterX"]} CenterY={a["CenterY"]} '
        f'Width={a["Width"]} Height={a["Height"]} ZOrder={a["ZOrder"]} '
        f'FontSize={a["FontSize"]} LineThickness={a["LineThickness"]} '
        f'FillOpacity={a["FillOpacity"]} />',
        '  </DataNode>',
        '  <Shape GraphId="s" TextLabel="S">',
        f'    <Graphics CenterX="50" CenterY="50" Width="10" Height="10" '
        f'Rotation={a["Rotation"]} />',
        '  </Shape>',
        '  <State GraphRef="a" TextLabel="P" GraphId="st">',
        f'    <Graphics RelX={a["StateRelX"]} RelY={a["StateRelY"]} '
        f'Width="15" Height="15" />',
        '  </State>',
        '  <Interaction GraphId="e">',
        '    <Graphics ZOrder="12288" ConnectorType="Elbow">',
        f'      <Point X={a["X"]} Y={a["Y"]} GraphRef="a" '
        f'RelX={a["RelX"]} RelY={a["RelY"]} />',
        f'      <Point X="200" Y={a["Y"]} ArrowHead="Arrow" />',
        f'      <Anchor Position={a["Position"]} GraphId="an" />',
        '    </Graphics>',
        '  </Interaction>',
        C._biopax(publication_xrefs=[
            {"id": "c1", "ID": "1", "DB": "PubMed",
             "YEAR": escape(v["YEAR"])},
            {"id": "c2", "ID": "2", "DB": "PubMed", "YEAR": "2001"}]),
        '</Pathway>'])


@settings(max_examples=150, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.fixed_dictionaries({k: _HOSTILE for k in (*_ATTRS, "YEAR")}))
def test_hostile_numbers_compile(values):
    """Whatever the numeric attributes hold, the document compiles: no
    `compile:` quarantine row, and every output's table builds."""
    rows = compile_page_group([(URL, _page(_hostile_gpml(values)))], INDEX)
    assert [r["error"] for r in rows["quarantine"]
            if r["error"].startswith("compile")] == []
    assert rows["pathways"] and rows["nodes"]
    _tables(rows)


def test_a_document_that_fails_to_compile_is_quarantined_alone(
        monkeypatch):
    """A document whose compile raises becomes one `compile:` row with
    its frag, and the page keeps its text and its other document."""
    compile_document = document.compile_document

    def fails_frag_1(recs, index):
        if recs[0]["frag"] == 1:
            raise ValueError("boom\nsecond line")
        return compile_document(recs, index)

    monkeypatch.setattr(document, "compile_document", fails_frag_1)
    gpml = C._doc(C._pathway_open(), C._datanode("n1", "N"))
    rows = compile_page_group([(URL, b"<p>t</p>" + _page(gpml, gpml))],
                              INDEX)
    [q] = rows["quarantine"]
    assert (q["url"], q["frag"], q["error"]) == (
        URL, 1, "compile: ValueError: boom")
    assert rows["text"] == [{"url": URL, "extracted_text": "t"}]
    for role in ("mentions", "nodes", "pathways", "documents"):
        assert {r["frag"] for r in rows[role]} == {0}, role
    _tables(rows)


@pytest.mark.parametrize("element", ["Interaction", "GraphicalLine"])
def test_an_edge_whose_graphics_hold_no_point_keeps_its_document(element):
    """An edge whose `<Graphics>` holds no `<Point>` converts as one
    with no `<Graphics>`: no points, types or markers; its document
    keeps its nodes, pathway row, JSON-LD and triples."""
    gpml = C._doc(C._pathway_open(), C._datanode("n1", "N"),
                  C._interaction("e1", [], connector_type="Elbow",
                                 element=element))
    rows = compile_page_group([(URL, _page(gpml))], INDEX)
    assert rows["quarantine"] == []
    [edge] = rows["edges"]
    assert edge["id"] == "e1"
    assert (edge["points"], edge["types"], edge["marker_start"],
            edge["marker_end"]) == (None, None, None, None)
    assert [n["id"] for n in rows["nodes"]] == ["n1"]
    assert len(rows["pathways"]) == 1 and len(rows["documents"]) == 1
    assert rows["model_triples"]
    _tables(rows)


def test_a_label_naming_a_lone_surrogate_keeps_its_node():
    """A numeric entity naming a lone surrogate decodes to U+FFFD, as
    he.decode does when not strict: the DataNode keeps its row, and
    its document gets no `compile:` row."""
    gpml = C._doc(C._pathway_open(), C._datanode("n1", "&amp;#xD800;"))
    rows = compile_page_group([(URL, _page(gpml))], INDEX)
    assert rows["quarantine"] == []
    [node] = rows["nodes"]
    assert (node["id"], node["text_content"]) == ("n1", "\ufffd")
    _tables(rows)


def test_a_page_whose_parse_raises_keeps_its_text(monkeypatch):
    def broken(url, html):
        raise RuntimeError("parse")

    monkeypatch.setattr(document, "page_mentions", broken)
    rows = compile_page_group([(URL, b"<p>t</p>")], INDEX)
    [q] = rows["quarantine"]
    assert (q["frag"], q["error"]) == (0, "compile: RuntimeError: parse")
    assert list(q) == frames.MENTIONS_SCHEMA.names
    assert rows["text"] == [{"url": URL, "extracted_text": "t"}]
    assert rows["mentions"] == []
