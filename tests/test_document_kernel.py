"""The document compiler (operators/document.py): plain-Python cases
for `compile_document` on hand-built mention rows, the pass's Arrow
boundary (`compile_page_group`, then each output's table) on pages,
and Spark cases through `build_document_model`."""

import datetime as dt
import math

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql.pandas.types import to_arrow_schema

from gpml2pvjson_js_spark import corpus as C
from gpml2pvjson_js_spark.operators import assemble
from gpml2pvjson_js_spark.operators.assemble import build_document_model
from gpml2pvjson_js_spark.operators.document import (
    compile_document, compile_page_group)
from gpml2pvjson_js_spark.operators.frames import FRAMES, OUTPUTS
from gpml2pvjson_js_spark.operators.linking import link_index
from gpml2pvjson_js_spark.operators.parse import MENTIONS_SCHEMA


def _el(idx, element, eid, x=0.0, y=0.0, width=80.0, height=20.0,
        **kw):
    """One mention row; nodes default to an 80x20 box whose top-left
    corner is (x, y)."""
    row = dict.fromkeys(MENTIONS_SCHEMA.names)
    row.update(url="u", frag=0, pathway_id="p", elem_idx=idx,
               gpml_element_name=element, graph_id=eid,
               graph_id_explicit=True, zorder=0.0, width=width,
               height=height,
               center_x=None if x is None else x + width / 2,
               center_y=None if y is None else y + height / 2)
    row.update(kw)
    return row


def _pt(idx, x, y, ref=None, rel=(None, None), arrow_head=None):
    return {"idx": idx, "x": x, "y": y, "rel_x": rel[0], "rel_y": rel[1],
            "graph_ref": ref, "arrow_head": arrow_head}


def _edge(idx, eid, pts, element="Interaction", **kw):
    return _el(idx, element, eid, x=None, y=None, width=None, height=None,
               points=pts, **kw)


def _pathway(idx, **kw):
    return _el(idx, "Pathway", None, x=None, y=None, width=None,
               height=None, graph_id_explicit=None, zorder=None, **kw)


def _roles(rows) -> dict:
    """The compiler's rows by role, each row keyed by exactly its
    frame's fields, in their order; roles without rows left out."""
    for role, rs in rows.items():
        for row in rs:
            assert list(row) == FRAMES[role].names
    return {role: rs for role, rs in rows.items() if rs}


def _run(*rows):
    """Kernel output: element rows by id, and the document's pathway
    row."""
    last = max(r["elem_idx"] for r in rows)
    by_role = _roles(compile_document([*rows, _pathway(last + 1)],
                                      link_index()))
    assert len(by_role["pathways"]) == 1
    els = by_role.get("nodes", []) + by_role.get("edges", [])
    return {r["id"]: r for r in els}, by_role["pathways"][0]


def _null(v):
    return v is None or (isinstance(v, float) and math.isnan(v))


def test_state_inherits_parent_z_and_gets_its_burr_offset():
    got, _ = _run(
        _el(0, "DataNode", "n1", zorder=5.0),
        # RelX/RelY 2.0/-1.5: relative offset [0.5, -0.25]
        _el(1, "State", "s1", graph_ref="n1", zorder=None,
            rel_x=2.0, rel_y=-1.5))
    assert got["s1"]["z_index"] == 5.0
    assert list(got["s1"]["attachment_offset"]) == [40.0, -5.0]
    assert got["n1"]["burrs"] == ["s1"]


def test_empty_group_is_dropped():
    got, _ = _run(
        _el(0, "Group", "G1", group_id="g1"),
        _el(1, "Group", "G2", group_id="g2", group_ref="g1"),
        _el(2, "Group", "G3", group_id="g3"))
    # G2 is G1's only member and a group itself, so G1 has no bbox
    # members; G2 and G3 have no members at all
    assert set(got) == set()


def test_nested_group_is_left_out_of_its_parents_bbox():
    got, _ = _run(
        _el(0, "DataNode", "n1", x=100.0, y=100.0, group_ref="g1"),
        _el(1, "DataNode", "n2", x=500.0, y=500.0, group_ref="g2"),
        _el(2, "Group", "G1", group_id="g1"),
        _el(3, "Group", "G2", group_id="g2", group_ref="g1"))
    pad = 8.0 + 1.0
    g1, g2 = got["G1"], got["G2"]
    assert (g1["x"], g1["y"]) == (100.0 - pad, 100.0 - pad)
    assert (g1["width"], g1["height"]) == (80.0 + 2 * pad, 20.0 + 2 * pad)
    assert (g2["x"], g2["y"]) == (500.0 - pad, 500.0 - pad)
    # the nested group is listed in contains but not re-based
    assert g1["contains"] == ["G2", "n1"]
    assert _null(g2["is_part_of"])


def test_edge_member_adds_its_endpoints_to_the_bbox():
    got, _ = _run(
        _el(0, "DataNode", "n1", x=100.0, y=100.0, group_ref="g1"),
        _edge(1, "e1", [_pt(0, 300.0, 40.0), _pt(1, 150.0, 260.0)],
              group_ref="g1"),
        _el(2, "Group", "G1", group_id="g1"))
    g = got["G1"]
    pad = 9.0
    assert (g["x"], g["y"]) == (100.0 - pad, 40.0 - pad)
    assert g["width"] == 300.0 - 100.0 + 2 * pad
    assert g["height"] == 260.0 - 40.0 + 2 * pad


def test_members_are_rebased_and_get_is_part_of():
    got, _ = _run(
        _el(0, "DataNode", "n1", x=100.0, y=100.0, group_ref="g1"),
        _edge(1, "e1", [_pt(0, 120.0, 110.0), _pt(1, 150.0, 110.0)],
              group_ref="g1"),
        _el(2, "Group", "G1", group_id="g1"),
        _el(3, "DataNode", "n2", x=7.0, y=9.0))
    assert (got["n1"]["x"], got["n1"]["y"]) == (9.0, 9.0)
    assert got["n1"]["is_part_of"] == got["e1"]["is_part_of"] == "G1"
    assert [(p["x"], p["y"]) for p in got["e1"]["points"]] == \
        [(29.0, 19.0), (59.0, 19.0)]
    assert (got["n2"]["x"], got["n2"]["y"]) == (7.0, 9.0)
    assert _null(got["n2"]["is_part_of"])


def test_burrs_and_contains_sort_by_z_with_ties_and_null_z():
    got, _ = _run(
        _el(0, "DataNode", "host", zorder=1.0, group_ref="g1"),
        _el(1, "State", "sb", graph_ref="host", zorder=3.0),
        _el(2, "State", "sa", graph_ref="host", zorder=3.0),
        _el(3, "State", "s0", graph_ref="host", zorder=2.0),
        _el(4, "DataNode", "m2", zorder=None, group_ref="g1"),
        _el(5, "DataNode", "m1", zorder=1.0, group_ref="g1"),
        _el(6, "Group", "G1", group_id="g1"),
        _edge(7, "e1", [_pt(0, 0.0, 0.0), _pt(1, 5.0, 5.0)],
              zorder=None),
        _el(8, "State", "sz", graph_ref="e1", zorder=1.0),
        # inherits the edge's null z
        _el(9, "State", "se", graph_ref="e1", zorder=None),
        _el(10, "Anchor", "an", graph_ref="e1", zorder=None))
    assert got["host"]["burrs"] == ["s0", "sa", "sb"]
    assert got["e1"]["burrs"] == ["an", "se", "sz"]
    assert got["G1"]["contains"] == ["m2", "host", "m1"]
    assert _null(got["m1"]["burrs"])


def test_pathway_contains_lists_only_top_level_entities():
    got, doc = _run(
        _el(0, "DataNode", "free", zorder=4.0),
        _el(1, "DataNode", "member", zorder=0.0, group_ref="g1"),
        _el(2, "Group", "G1", group_id="g1", zorder=99.0),
        _el(3, "State", "st", graph_ref="free", zorder=1.0),
        _edge(4, "e1", [_pt(0, 0.0, 0.0), _pt(1, 1.0, 1.0)], zorder=2.0),
        _el(5, "Anchor", "an", graph_ref="e1", zorder=2.0),
        _el(6, "Label", "lab", zorder=None))
    # the group's zIndex is its members' least (0.0), not its own ZOrder
    assert got["G1"]["z_index"] == 0.0
    assert doc["contains"] == ["lab", "G1", "e1", "free"]


def test_anchor_hop():
    got, _ = _run(
        _el(0, "DataNode", "n1"),
        _edge(1, "e1", [_pt(0, 0.0, 0.0, "n1", (1.0, 0.0)),
                        _pt(1, 100.0, 0.0)]),
        _el(2, "Anchor", "an", x=None, y=None, width=None, height=None,
            graph_ref="e1", position=0.4),
        _edge(3, "e2", [_pt(0, 50.0, 50.0, "n1", (-1.0, 1.0)),
                        _pt(1, 40.0, 0.0, "an")]))
    # the anchor's position as the numpy array the anchor hop hands on
    # (ROADMAP item 4 pins the defect it keeps)
    position = got["an"]["attachment_position"]
    assert isinstance(position, np.ndarray)
    assert list(position) == [0.4, 0.0]
    e2 = got["e2"]
    assert e2["is_attached_to"] == ["n1", "e1"]
    assert e2["endpoint_first_ref"] == "n1"
    assert e2["endpoint_last_ref"] == "e1"
    assert e2["point_targets"] == [
        {"elem": "DataNode", "point_ref": "n1"},
        {"elem": "Anchor", "point_ref": "an"}]
    last = e2["points"][1]
    assert last["is_attached_to"] == "an"
    assert last["attachment_position"] is position
    assert last["attachment_offset"] == [0.0, 0.0]
    assert last["orientation"] is None
    # a node-attached first point takes the emanation orientation of
    # its side (a last point's would be negated)
    first = got["e1"]["points"][0]
    assert first["orientation"] == [1.0, 0.0]
    assert got["e1"]["burrs"] == ["an"]


@pytest.mark.xfail(strict=True, reason=(
    "known defect kept for the benchmark pins: entities.convert_node "
    "builds an anchor's attachment_position as a numpy array, the "
    "anchor hop hands it on, and its truth test raises inside "
    "hyperedge_start_orientation, so the edge keeps its explicit "
    "points"))
def test_elbow_anchored_with_position_gets_its_points():
    got, _ = _run(
        _el(0, "DataNode", "n1"),
        _edge(1, "e1", [_pt(0, 0.0, 0.0, "n1", (1.0, 0.0)),
                        _pt(1, 100.0, 0.0)]),
        _el(2, "Anchor", "an", x=None, y=None, width=None, height=None,
            graph_ref="e1", position=0.4),
        # no orientation: the anchor picks it from e1's points
        _edge(3, "e2", [_pt(0, 40.0, 0.0, "an"), _pt(1, 90.0, 60.0)],
              connector_type="Elbow"))
    e2 = got["e2"]
    assert e2["draw_as"] == "ElbowLine"
    assert e2["endpoint_first_ref"] == "e1"
    assert len(e2["points"]) > 2


def test_dangling_group_ref_and_graph_ref_do_not_throw():
    got, _ = _run(
        _el(0, "DataNode", "n1", x=3.0, group_ref="nowhere"),
        _el(1, "State", "st", graph_ref="nobody", zorder=None,
            rel_x=2.0, rel_y=2.0),
        # RelX 2.0: position 1.0, relative offset 0.5
        _edge(2, "e1", [_pt(0, 0.0, 0.0, "nobody", (2.0, 0.0)),
                        _pt(1, 9.0, 9.0)]))
    assert got["n1"]["x"] == 3.0 and _null(got["n1"]["is_part_of"])
    assert _null(got["st"]["z_index"])
    assert all(_null(v) for v in got["st"]["attachment_offset"])
    e1 = got["e1"]
    assert _null(e1["is_attached_to"])
    assert _null(e1["endpoint_first_ref"])
    assert e1["point_targets"] == [{"elem": None, "point_ref": "nobody"}]
    p = e1["points"][0]
    assert p["attachment_position"] == [1.0, 0.5]
    assert all(_null(v) for v in p["attachment_offset"])
    assert p["orientation"] is None


def test_repeated_graph_id_resolves_to_the_last_element():
    got = _roles(compile_document([
        _el(2, "DataNode", "dup", width=10.0, zorder=7.0),
        _el(0, "DataNode", "dup", width=50.0, zorder=3.0),
        # RelX 3.0: position 1.0, relative offset 1.0
        _el(3, "State", "st", graph_ref="dup", zorder=None,
            rel_x=3.0, rel_y=0.0),
        _edge(4, "e1", [_pt(0, 0.0, 0.0, "dup", (3.0, 0.0)),
                        _pt(1, 9.0, 9.0)]),
    ], link_index()))
    by_idx = {r["elem_idx"]: r for r in got["nodes"] + got["edges"]}
    # the rows arrive out of order; document order is elem_idx
    assert by_idx[2]["burrs"] == ["st"] and _null(by_idx[0]["burrs"])
    assert by_idx[3]["z_index"] == 7.0
    assert list(by_idx[3]["attachment_offset"]) == [10.0, 0.0]
    assert by_idx[4]["points"][0]["attachment_offset"] == [10.0, 0.0]


def _compiled(*rows, **pathway):
    """Kernel output rows by role, with the document's Pathway row."""
    last = max(r["elem_idx"] for r in rows)
    return _roles(compile_document(
        [*rows, _pathway(last + 1, **pathway)], link_index()))


def _by_id(rows):
    return {r["id"]: r for r in rows}


def test_data_node_gets_its_class_defaults_and_typing():
    node = _by_id(_compiled(
        _el(0, "DataNode", "n1", wp_type="Protein",
            xref_datasource="Entrez Gene", xref_identifier="1"))["nodes"])
    n1 = node["n1"]
    # FillColor White and ShapeType Rectangle are DataNode defaults
    assert (n1["fill"], n1["draw_as"], n1["stroke"]) == (
        "#ffffff", "rect", "#000000")
    assert n1["types"] == ["DataNode", "SingleFreeNode", "Entrez Gene:1",
                           "Protein"]


def test_shape_rotation_and_cellular_component():
    sh = _by_id(_compiled(
        _el(0, "Shape", "sh", shape_type="Oval", rotation="Right",
            attributes={"org.pathvisio.CellularComponentProperty":
                        "Nucleus"}))["nodes"])["sh"]
    assert sh["draw_as"] == "Ellipse"
    assert (sh["rotation"], sh["text_rotation"]) == (90.0, -90.0)
    assert sh["types"] == ["Shape", "SingleFreeNode", "PhysicalEntity",
                           "CellularComponent", "Nucleus"]


def test_label_decodes_text_and_encodes_href():
    lb = _by_id(_compiled(
        _el(0, "Label", "lb", text_label="A &amp; B",
            href="http://x.org/a b"))["nodes"])["lb"]
    assert (lb["text_content"], lb["href"]) == (
        "A & B", "http://x.org/a%20b")
    assert (lb["fill"], lb["draw_as"]) == ("transparent", "none")


def test_state_position_and_typing():
    st = _by_id(_compiled(
        _el(0, "DataNode", "n1"),
        _el(1, "State", "st", graph_ref="n1", rel_x=1.0, rel_y=-1.0,
            state_type="Phosphorylation"))["nodes"])["st"]
    assert st["attachment_position"] == [1.0, 0.0]
    assert _null(st["attachment_relative_offset"])
    assert (st["kaavio_type"], st["state_type"]) == ("Burr",
                                                     "Phosphorylation")
    assert st["types"] == ["State", "Burr"]


def test_anchor_size_and_draw_shape():
    nodes = _by_id(_compiled(
        _edge(0, "e1", [_pt(0, 0.0, 0.0), _pt(1, 9.0, 0.0)]),
        _el(1, "Anchor", "a1", graph_ref="e1", position=0.5,
            anchor_shape="Circle"),
        _el(2, "Anchor", "a2", graph_ref="e1", position=0.2,
            graph_id_explicit=False))["nodes"])
    assert (nodes["a1"]["draw_as"], nodes["a1"]["width"]) == (
        "Ellipse", 8.0)
    # an implicit-id anchor of Shape None is drawn as a 4x4 rectangle
    assert (nodes["a2"]["draw_as"], nodes["a2"]["width"]) == ("rect", 4.0)
    assert nodes["a1"]["stroke_width"] == 0.0


def test_group_style_overrides_and_types():
    g = _by_id(_compiled(
        _el(0, "DataNode", "n1", group_ref="g1"),
        _el(1, "Group", "G1", group_id="g1", style="Complex",
            fill_color="FF0000"))["nodes"])["G1"]
    assert (g["draw_as"], g["fill"], g["padding"]) == (
        "Octagon", "#b4b464", 11.0)
    assert g["types"] == ["Group", "Complex", "GroupComplex"]
    assert (g["gpml_group_id"], g["group_id"]) == ("g1", None)


def test_interaction_marker_typing():
    e = _by_id(_compiled(_edge(0, "e1", [
        _pt(0, 0.0, 0.0), _pt(1, 9.0, 0.0, arrow_head="Arrow")],
        connector_type="Elbow"))["edges"])["e1"]
    assert (e["marker_start"], e["marker_end"]) == (None, "Arrow")
    assert e["types"] == ["Interaction", "Edge", "SBO:0000167",
                          "SBO:0000393", "SBO:0000394",
                          "DirectedInteraction"]
    assert (e["draw_as"], e["fill"]) == ("ElbowLine", "none")


def test_graphical_line_keeps_mim_markers_untyped():
    e = _by_id(_compiled(_edge(0, "l1", [
        _pt(0, 0.0, 0.0), _pt(1, 9.0, 0.0, arrow_head="mim-conversion")],
        element="GraphicalLine"))["edges"])["l1"]
    assert e["marker_end"] == "MimConversion"
    assert e["types"] == ["GraphicalLine", "Edge"]


def test_citations_are_ordered_by_year():
    pubs = _by_id(_compiled(
        _el(0, "PublicationXref", None, pub_id="p1", pub_year="2005",
            pub_title="T &amp; U", pub_db="PubMed", xref_identifier="9"),
        _el(1, "PublicationXref", None, pub_id="p2", pub_year=" 1999 "),
        _el(2, "PublicationXref", None, pub_id="p3"))["citations"])
    assert [pubs[f"publicationXref{p}"]["text_content"]
            for p in ("p1", "p2", "p3")] == ["2", "1", "3"]
    p1 = pubs["publicationXref" + "p1"]
    assert (p1["year"], p1["standard_name"]) == (2005, "T & U")
    assert p1["types"] == ["PublicationXref", "PubMed:9"]


def test_vocabulary_iri_and_pathway_ontology_type():
    out = _compiled(
        _el(0, "openControlledVocabulary", None, ontology="Disease",
            vocab_term="d", xref_identifier="DOID:1"),
        _el(1, "openControlledVocabulary", None,
            ontology="Pathway Ontology", xref_identifier="PW:1"),
        _el(2, "openControlledVocabulary", None, ontology="Unknown",
            xref_identifier="X:1"))
    ids = [v["id"] for v in out["vocabularies"]]
    assert ids == ["http://identifiers.org/doid/DOID:1",
                   "http://identifiers.org/pw/PW:1", None]
    assert out["pathways"][0]["types"] == [
        "Pathway", "http://identifiers.org/pw/PW:1"]


def test_pathway_name_split_and_search_link():
    p = _compiled(_el(0, "Label", "l"), name="Glycolysis (Homo sapiens)",
                  organism="Homo sapiens")["pathways"][0]
    assert (p["standard_name"], p["display_name"]) == (
        "Glycolysis", "Homo sapiens")
    assert p["is_similar_to"] == (
        "http://wikipathways.org/index.php/Special:SearchPathways"
        "?query=Glycolysis%20(Homo%20sapiens)&species=Homo%20sapiens"
        "&doSearch=1")
    assert p["height"] == 500.0


def _output_table(rows: dict, stage: str, bucket: int = 3) -> pa.Table:
    """One output's Arrow table of a url's rows, as the pass writes it."""
    from pyspark.sql import types as T

    out = OUTPUTS[stage]
    schema = T.StructType([*out.frame.fields, assemble.BUCKET])
    recs = [r for role in out.roles for r in rows.get(role, ())]
    table = assemble.stage_table(
        assemble._sink(stage, "", schema, out, "4.1.2"), recs,
        [bucket] * len(recs))
    assert table.schema.remove_metadata() == to_arrow_schema(schema)
    return table


def test_arrow_boundary_keeps_nan_rotations_and_nulls_other_nans():
    """Through the pass's Arrow boundary: a NaN rotation is committed
    as NaN, as the Catalyst cast gave it; every other NaN is null, in
    the compiled rows and in the mention rows, at every nesting
    level, as the Arrow conversion of the old pandas parse committed
    it."""
    gpml = C._doc(
        C._pathway_open(),
        C._shape("sh", 50.0, 50.0, 20.0, 20.0, rotation="NaN"),
        C._state("st", "nobody", rel_x=2.0, rel_y=0.0),
        C._datanode("nan", "N", cx="NaN"),
        C._interaction("e1", [C._point("NaN", 1.0), C._point(5.0, 1.0)]))
    html = ('<html><body><script type="application/gpml+xml">\n'
            + gpml + "\n</script></body></html>").encode()
    rows = compile_page_group([("u", html)], link_index())
    nodes = {r["id"]: r
             for r in _output_table(rows, "nodes").to_pylist()}
    # a NaN rotation goes back as NaN, as the Catalyst cast gave it
    assert math.isnan(nodes["sh"]["rotation"])
    assert math.isnan(nodes["sh"]["text_rotation"])
    # an offset against a missing parent is null, not NaN
    assert nodes["st"]["attachment_offset"] == [None, None]
    assert nodes["nan"]["x"] is None
    mentions = {r["graph_id"]: r
                for r in _output_table(rows, "mentions").to_pylist()}
    assert mentions["nan"]["center_x"] is None
    assert mentions["nan"]["center_y"] == 165.0
    points = mentions["e1"]["points"]
    assert [(p["x"], p["y"]) for p in points] == [(None, 1.0), (5.0, 1.0)]
    assert mentions["sh"]["rotation"] == "NaN"
    assert {r["bucket"] for r in mentions.values()} == {3}


def _page_rows() -> list[tuple[int, dict]]:
    """(bucket, rows by role) of seven urls: six fixture documents and
    one that does not parse."""
    docs = [C.gpml_data_nodes(), C.gpml_interactions(), C.gpml_groups(),
            C.gpml_publication_xrefs(), C.gpml_vocab(), C.gpml_hyperedge(),
            "<Pathway"]
    index = link_index()
    return [(i % 3, compile_page_group(
        [(f"https://t.example/{i}",
          ('<html><body><script type="application/gpml+xml">\n' + gpml
           + "\n</script></body></html>").encode())], index))
        for i, gpml in enumerate(docs)]


def _sinks(data: str = ""):
    from pyspark.sql import types as T

    for stage, out in OUTPUTS.items():
        schema = T.StructType([*out.frame.fields, assemble.BUCKET])
        yield out, assemble._sink(stage, data, schema, out, "4.1.2")


def test_one_table_of_several_urls_is_their_tables_concatenated():
    """`stage_table` over several urls' rows is the concatenation of
    each url's own table: the same rows in order, schema, Spark footer
    and bucket of each row. `arrow_bytes` estimates the table's Arrow
    bytes from the rows to within a small factor, never above."""
    urls = _page_rows()
    for out, sink in _sinks():
        tables, recs, buckets = [], [], []
        for bucket, rows in urls:
            mine = [r for role in out.roles for r in rows.get(role, ())]
            if mine:
                tables.append(assemble.stage_table(
                    sink, mine, [bucket] * len(mine)))
            recs += mine
            buckets += [bucket] * len(mine)
        assert recs, sink.stage
        one = assemble.stage_table(sink, recs, buckets)
        assert one.equals(pa.concat_tables(tables), check_metadata=True), \
            sink.stage
        assert one.schema.metadata == sink.schema.metadata
        assert one["bucket"].to_pylist() == buckets, sink.stage
        estimate = assemble.arrow_bytes(sink, recs)
        assert one.nbytes / 3 <= estimate <= one.nbytes, sink.stage


@pytest.mark.parametrize("row_group_bytes, groups", [(1, "url"),
                                                     (8 << 20, "one")])
def test_a_file_writes_a_row_group_when_its_pending_rows_reach_it(
        tmp_path, row_group_bytes, groups):
    """An output's file keeps its rows pending until their estimated
    Arrow bytes reach the row-group bound: with a one-byte bound it
    writes each url's rows as its own row group, with the default one
    row group for the whole partition. Either way the file holds every
    row, in order, with its bucket."""
    import pyarrow.parquet as pq

    urls = _page_rows()
    for out, sink in _sinks(str(tmp_path)):
        f = assemble._File(sink, f"{sink.stage}.parquet", row_group_bytes)
        for bucket, rows in urls:
            f.add(rows, bucket)
        written = f.close()
        per_url = [sum(len(rows.get(role, ())) for role in out.roles)
                   for _, rows in urls]
        assert written["rows"] == sum(per_url), sink.stage
        md = pq.ParquetFile(f.path).metadata
        assert md.num_row_groups == (
            sum(n > 0 for n in per_url) if groups == "url" else 1), \
            sink.stage
        assert pq.read_table(f.path)["bucket"].to_pylist() == [
            bucket for (bucket, _), n in zip(urls, per_url)
            for _ in range(n)], sink.stage


# --- Spark --------------------------------------------------------------

def _pages(spark, docs):
    ts = dt.datetime(2020, 1, 1, tzinfo=dt.timezone.utc)
    rows = []
    for url, gpml in docs:
        html = ('<html><body><script type="application/gpml+xml">\n'
                + gpml + "\n</script></body></html>")
        rows.append((url, ts, html.encode(), "", "en"))
    return spark.createDataFrame(rows, C.PAGES_SCHEMA)


def _grouped_doc(cx):
    return C._doc(
        C._pathway_open(),
        C._datanode("n1", "A", cx=cx, cy=100.0, group_ref="g1"),
        C._datanode("n2", "B", cx=cx + 200.0, cy=100.0),
        C._state("s1", "n2"),
        C._group("g1", "G1"),
        C._interaction("e1", [C._point(0.0, 0.0, "n1", 1.0, 0.0),
                              C._point(0.0, 0.0, "n2", -1.0, 0.0)]))


def test_two_urls_sharing_ids_stay_independent(spark):
    model = build_document_model(spark, _pages(
        spark, [("https://a.example/p", _grouped_doc(100.0)),
                ("https://b.example/p", _grouped_doc(400.0))]))
    nodes = {(r.url, r.id): r for r in model["nodes"].collect()}
    edges = {(r.url, r.id): r for r in model["edges"].collect()}
    a, b = "https://a.example/p", "https://b.example/p"
    # each group's bbox comes from its own document's member
    assert nodes[b, "G1"].x - nodes[a, "G1"].x == 300.0
    # re-based onto its own group: the same offset in both
    assert nodes[a, "n1"].x == pytest.approx(nodes[b, "n1"].x)
    for url in (a, b):
        assert nodes[url, "n1"].is_part_of == "G1"
        assert nodes[url, "n2"].burrs == ["s1"]
        assert edges[url, "e1"].is_attached_to == ["n1", "n2"]
        pathway = model["pathways"].filter(f"url = '{url}'").collect()
        assert pathway[0].contains == ["e1", "G1", "n2"]


def test_giant_page_builds_with_expected_row_counts(spark):
    n = 2000
    model = build_document_model(spark, _pages(
        spark, [("https://giant.example/p", C.gpml_giant(n_nodes=n))]))
    assert model["nodes"].count() == n
    edges = model["edges"]
    assert edges.count() == n - 1
    assert edges.filter("size(is_attached_to) = 2").count() == n - 1
    pathway = model["pathways"].collect()
    assert len(pathway) == 1 and len(pathway[0].contains) == 2 * n - 1


def test_duplicate_url_keeps_both_pages_and_compiles_one_document(spark):
    """Two page rows with one url: both pages' mention and text rows
    are kept, and the fragments that share a (url, frag) compile as
    one document, whose JSON-LD each of its two Pathway elements
    carries."""
    import json

    from gpml2pvjson_js_spark.operators.export import jsonld_documents

    url = "https://dup.example/p"
    model = build_document_model(spark, _pages(spark, [
        (url, C._doc(C._pathway_open(name="a"),
                     C._datanode("n1", "A", cx=100.0))),
        (url, C._doc(C._pathway_open(name="b"),
                     C._datanode("n2", "B", cx=300.0),
                     C._datanode("n3", "C", cx=500.0)))]))
    mentions = model["mentions"].collect()
    assert sorted(r.graph_id for r in mentions
                  if r.gpml_element_name == "DataNode") == ["n1", "n2", "n3"]
    assert sorted(r.name for r in mentions
                  if r.gpml_element_name == "Pathway") == ["a", "b"]
    assert model["text"].count() == 2
    assert {(r.url, r.frag) for r in mentions} == {(url, 0)}
    assert sorted(r.id for r in model["nodes"].collect()) == \
        ["n1", "n2", "n3"]
    docs = jsonld_documents(model).collect()
    assert [(r.url, r.frag) for r in docs] == [(url, 0)] * 2
    for r in docs:
        assert {"n1", "n2", "n3"} <= set(json.loads(r.jsonld)
                                         ["entitiesById"])
