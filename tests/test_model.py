"""Document-model semantics: states (J3/J8), anchors, groups
(J5/J6/A3/A4/P21), edges (J7/J11)."""

import math

from pyspark.sql import functions as F

from tests.conftest import rows_by_id


def test_state_inherits_parent_zorder_and_offset(model):
    nodes = rows_by_id(model["nodes"], "/states/")
    s = nodes["ss001"]
    assert s["z_index"] == 32768.0  # inherited from sa001
    assert s["is_attached_to"] == "sa001"
    # RelX=1, RelY=-1 -> position [1, 0]; offset = relOff * parent dims
    assert s["attachment_position"] == [1.0, 0.0]
    assert s["attachment_offset"] == [0.0, 0.0]
    assert s["kaavio_type"] == "Burr"
    # host gains burrs, z-sorted
    host = nodes["sa001"]
    assert set(host["burrs"]) == {"ss001", "ss002"}


def test_anchor_shape_sizing(model):
    nodes = rows_by_id(model["nodes"], "/hyperedge/")
    a1 = nodes["hanch1"]  # Shape None with explicit GraphId
    assert a1["width"] == 0.0 and a1["height"] == 0.0
    assert a1["draw_as"] == "none"
    assert a1["stroke_width"] == 0.0
    assert a1["attachment_position"] == [0.5, 0.0]
    a2 = nodes["hanch2"]  # Circle
    assert a2["width"] == 8.0 and a2["draw_as"] == "Ellipse"


def test_group_bbox_and_rebase(model):
    nodes = rows_by_id(model["nodes"], "/groups/")
    g = nodes["gg001"]  # style Group: padding 8, strokeWidth 0
    # members: ga001 (280..360 x 100..120), ga002 (280..360 x 130..150)
    assert g["x"] == 280.0 - 8.0
    assert g["y"] == 100.0 - 8.0
    assert g["width"] == 80.0 + 16.0
    assert g["height"] == 50.0 + 16.0
    assert g["z_index"] == 32768.0  # min member z
    assert g["contains"] == ["ga001", "ga002"]
    # members rebased to group-relative coords + isPartOf
    m1 = nodes["ga001"]
    assert m1["is_part_of"] == "gg001"
    assert m1["x"] == 280.0 - g["x"]
    # complex style group
    g2 = nodes["gg002"]
    assert g2["padding"] == 11.0
    assert sorted(g2["types"]) == ["Complex", "Group", "GroupComplex"]


def test_empty_group_filtered(model):
    nodes = rows_by_id(model["nodes"], "/groups/")
    assert "gg003" not in nodes  # P21: no members -> dropped


def test_edge_endpooint_resolution_and_anchor_hop(model):
    edges = rows_by_id(model["edges"], "/hyperedge/")
    e2 = edges["he002"]
    # point-level ref is the anchor, edge-level ref is the parent edge
    assert e2["points"][1]["is_attached_to"] == "hanch1"
    assert e2["is_attached_to"] == ["ha003", "he001"]
    assert e2["endpoint_last_ref"] == "he001"
    # anchor-attached point copies the anchor position
    assert e2["points"][1]["attachment_position"] == [0.5, 0.0]
    # node-attached endpoint: orientation from position scalars
    p0 = e2["points"][0]
    assert p0["attachment_position"] == [0.5, 0.0]
    assert p0["orientation"] == [0.0, -1.0]


def test_edge_in_group_rebased(model):
    edges = rows_by_id(model["edges"], "/groups/")
    nodes = rows_by_id(model["nodes"], "/groups/")
    # ge001 is not in any group; check a grouped edge scenario is
    # covered by node rebasing above — here ensure non-members pass
    # through unshifted
    e = edges["ge001"]
    assert "is_part_of" not in e
    assert e["points"][0]["x"] == 360.0


def test_edge_attached_to_group(model):
    edges = rows_by_id(model["edges"], "/groups/")
    e = edges["ge001"]
    assert e["is_attached_to"] == ["gg001", "ga003"]
    # offset against group dims resolves to finite values
    assert all(v is not None for v in e["points"][0]["attachment_offset"])


def test_pathway_contains_top_level_only(model):
    p = model["pathways"].filter(F.col("url").contains("/groups/")) \
        .collect()[0]
    c = p["contains"]
    assert "gg001" in c and "gg002" in c
    assert "ga001" not in c and "ga002" not in c  # grouped members out
    assert "ge001" in c
    # z-order sorted
    nodes = rows_by_id(model["nodes"], "/groups/")
    edges = rows_by_id(model["edges"], "/groups/")
    zs = [(nodes.get(i) or edges.get(i))["z_index"] for i in c]
    assert zs == sorted(zs)


def test_multi_fragment_page(model):
    n = model["nodes"].filter(F.col("url").contains("/multi/"))
    frags = {r["frag"] for r in n.select("frag").collect()}
    assert frags == {0, 1}


def test_shapes_and_labels(model):
    nodes = rows_by_id(model["nodes"], "/shapes-labels/")
    sh = nodes["sh001"]
    assert sh["cellular_component"] == "Nucleus"
    assert sh["rotation"] == 0.0
    assert "PhysicalEntity" in sh["types"] and "Nucleus" in sh["types"]
    sh2 = nodes["sh002"]
    assert math.isclose(sh2["rotation"], 90.0)
    assert math.isclose(sh2["text_rotation"], -90.0)
    lb = nodes["lb001"]
    assert lb["href"] == "http://example.org/more%20info"
    assert lb["draw_as"] == "none"  # Label default ShapeType None
    assert lb["fill"] == "transparent"


def test_styled_converters(model):
    """P7-P11/P15: colors, broken lines, fonts, rx/ry, double-line,
    entity decoding."""
    nodes = rows_by_id(model["nodes"], "/styled/")
    a = nodes["sty01"]
    assert a["stroke"] == "#ff0000"            # named color Red
    assert a["fill"] == "#ff00ff"              # bare hex
    assert a["stroke_dasharray"] == "5,3"      # Broken
    assert a["font_weight"] == "bold"
    assert a["font_style"] == "italic"
    assert a["text_decoration"] == "underline"
    assert a["rx"] == 15.0 and a["ry"] == 15.0  # RoundedRectangle
    assert a["draw_as"] == "rect"
    assert a["text_content"] == "A & B"        # entity decoded
    b = nodes["sty02"]
    assert b["stroke_style"] == "double"
    assert b["width"] == 102.0                 # 100 + LineThickness 2
    assert b["height"] == 62.0
    assert b["stroke_width"] == 2.0
    assert b["stroke"] == "#008000"
    assert b["x"] == 300.0 - 102.0 / 2
    c = nodes["sty03"]
    assert c["text_decoration"] == "line-through"


def test_elbow_waypoint_synthesis(model):
    """F4: implicit Elbow waypoints synthesized (left side of A to top
    of B -> perpendicular else-branch: 2 intermediates)."""
    edges = rows_by_id(model["edges"], "/elbow/")
    e = edges["ee001"]
    assert e["draw_as"] == "ElbowLine"
    pts = e["points"]
    assert len(pts) == 4
    # start stub goes left of A
    assert pts[1]["x"] == 80.0 - 20.0
    # perpendicular approach: intermediate shares end-stub y
    assert pts[2]["y"] == 80.0 - 20.0
    # intermediates carry only coordinates
    assert pts[1]["is_attached_to"] is None
    # endpoints unchanged
    assert (pts[0]["x"], pts[0]["y"]) == (80.0, 130.0)
    assert (pts[3]["x"], pts[3]["y"]) == (260.0, 80.0)


def _arr(element, contains_null=True):
    return {"type": "array", "elementType": element,
            "containsNull": contains_null}


def _st(*fields):
    return {"type": "struct", "fields": [
        {"name": n, "type": t, "nullable": True, "metadata": {}}
        for n, t in fields]}


_STRS, _DOUBLES = _arr("string"), _arr("double")
_COMMENTS = _arr(_st(("content", "string"), ("source", "string")))
_KEY = [("url", "string", False), ("frag", "integer", False)]
_S = "string"
# the five frames' schemas as the Catalyst build produced them before
# the document compiler replaced it
MODEL_SCHEMAS = {
    "nodes": _KEY + [(n, t, True) for n, t in [
        ("pathway_id", _S), ("elem_idx", "integer"), ("id", _S),
        ("gpml_element_name", _S), ("kaavio_type", _S), ("types", _STRS),
        ("text_content", _S), ("href", _S), ("wp_type", _S),
        ("state_type", _S), ("x", "double"), ("y", "double"),
        ("width", "double"), ("height", "double"), ("z_index", "double"),
        ("draw_as", _S), ("stroke", _S), ("stroke_width", "double"),
        ("stroke_dasharray", _S), ("stroke_style", _S), ("fill", _S),
        ("fill_opacity", "double"), ("rotation", "double"),
        ("text_rotation", "double"), ("font_family", _S),
        ("font_size", "double"), ("font_weight", _S), ("font_style", _S),
        ("text_align", _S), ("vertical_align", _S),
        ("text_decoration", _S), ("padding", "double"), ("rx", "double"),
        ("ry", "double"), ("xref_datasource", _S), ("xref_identifier", _S),
        ("cellular_component", _S), ("backpage_head", _S),
        ("citations", _STRS), ("comments", _COMMENTS),
        ("is_attached_to", _S), ("attachment_position", _DOUBLES),
        ("attachment_relative_offset", _DOUBLES),
        ("attachment_offset", _DOUBLES), ("group_id", _S),
        ("group_ref", _S), ("is_part_of", _S), ("burrs", _STRS),
        ("gpml_group_id", _S), ("contains", _STRS)]],
    "edges": _KEY + [
        ("id", _S, True), ("pathway_id", _S, True),
        ("elem_idx", "integer", True), ("gpml_element_name", _S, True),
        ("kaavio_type", _S, False), ("types", _STRS, True),
        ("marker_start", _S, True), ("marker_end", _S, True),
        ("draw_as", _S, True), ("stroke", _S, True),
        ("stroke_width", "double", True), ("stroke_dasharray", _S, True),
        ("fill", _S, True), ("z_index", "double", True),
        ("citations", _STRS, True), ("comments", _COMMENTS, True),
        ("group_ref", _S, True), ("xref_datasource", _S, True),
        ("xref_identifier", _S, True), ("is_attached_to", _STRS, True),
        ("point_targets", _arr(_st(("elem", _S), ("point_ref", _S)),
                               False), True),
        ("endpoint_first_ref", _S, True), ("endpoint_last_ref", _S, True),
        ("points", _arr(_st(
            ("x", "double"), ("y", "double"), ("is_attached_to", _S),
            ("attachment_position", _DOUBLES),
            ("attachment_offset", _DOUBLES), ("orientation", _DOUBLES),
            ("marker", _S)), False), True),
        ("is_part_of", _S, True), ("burrs", _STRS, True)],
    "citations": _KEY + [
        ("pathway_id", _S, True), ("elem_idx", "integer", True),
        ("id", _S, True), ("gpml_element_name", _S, False),
        ("xref_identifier", _S, True), ("xref_datasource", _S, True),
        ("standard_name", _S, True), ("source", _S, True),
        ("year", "integer", True), ("authors", _STRS, True),
        ("types", _STRS, False), ("text_content", _S, False)],
    "vocabularies": _KEY + [
        ("pathway_id", _S, True), ("elem_idx", "integer", True),
        ("ontology", _S, True), ("term", _S, True),
        ("xref_identifier", _S, True), ("iri_prefix", _S, True),
        ("id", _S, True), ("types", _arr(_S, False), False),
        ("gpml_element_name", _S, False)],
    "pathways": _KEY + [
        ("pathway_id", _S, True), ("id", _S, True),
        ("gpml_element_name", _S, False), ("kaavio_type", _S, False),
        ("name", _S, True), ("standard_name", _S, True),
        ("display_name", _S, True), ("text_content", _S, False),
        ("is_similar_to", _S, True), ("organism", _S, True),
        ("license", _S, True), ("data_source", _S, True),
        ("data_source_version", _S, True), ("author", _S, True),
        ("email", _S, True), ("maintainer", _S, True),
        ("last_modified", _S, True), ("width", "double", True),
        ("height", "double", False), ("comments", _COMMENTS, True),
        ("types", _arr(_S, False), True), ("contains", _STRS, False)],
}


def test_model_frame_schemas_are_pinned(model):
    for name, fields in MODEL_SCHEMAS.items():
        assert model[name].schema.jsonValue() == {
            "type": "struct", "fields": [
                {"name": n, "type": t, "nullable": nullable, "metadata": {}}
                for n, t, nullable in fields]}, name
