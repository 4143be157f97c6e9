"""The per-document assembly kernel (operators/document.py): pure-pandas
cases for `assemble_document` on hand-built element rows, and Spark
cases through `build_document_model`."""

import datetime as dt
import math

import numpy as np
import pandas as pd
import pytest

from gpml2pvjson_js_spark import corpus as C
from gpml2pvjson_js_spark.operators.assemble import build_document_model
from gpml2pvjson_js_spark.operators.document import (
    SCHEMA, assemble_document)


def _el(idx, name, eid, **kw):
    """One kernel_input row; nodes default to an 80x20 box at (0, 0)."""
    row = {"url": "u", "frag": 0, "elem_idx": idx,
           "gpml_element_name": name, "id": eid, "group_id": None,
           "group_ref": None, "graph_ref": None, "zorder": 0.0,
           "x": 0.0, "y": 0.0, "width": 80.0, "height": 20.0,
           "padding": 8.0, "stroke_width": 1.0,
           "attachment_position": None,
           "attachment_relative_offset": None, "attachment_offset": None,
           "curvy": False, "pts": None}
    row.update(kw)
    return row


def _pt(idx, x, y, ref=None, pos=(None, None), roff=(0.0, 0.0),
        marker=None):
    return {"idx": idx, "x": x, "y": y, "marker": marker, "graph_ref": ref,
            "pos_x": pos[0], "pos_y": pos[1], "roff_x": roff[0],
            "roff_y": roff[1]}


def _edge(idx, eid, pts, **kw):
    return _el(idx, "Interaction", eid, x=None, y=None, width=None,
               height=None, pts=pts, **kw)


def _run(*rows):
    """Kernel output: element rows by id, and the document's row."""
    out = assemble_document(pd.DataFrame(list(rows)))
    assert list(out.columns) == SCHEMA.names
    recs = out.to_dict("records")
    doc = [r for r in recs if pd.isna(r["elem_idx"])]
    assert len(doc) == 1
    ids = {r["elem_idx"]: r["id"] for r in rows}
    return {ids[r["elem_idx"]]: r for r in recs
            if not pd.isna(r["elem_idx"])}, doc[0]


def _null(v):
    return v is None or (isinstance(v, float) and math.isnan(v))


def test_state_inherits_parent_z_and_gets_its_burr_offset():
    got, _ = _run(
        _el(0, "DataNode", "n1", zorder=5.0),
        _el(1, "State", "s1", graph_ref="n1", zorder=None,
            attachment_relative_offset=np.array([0.5, -0.25])))
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
    position = np.array([0.4, 0.0])
    got, _ = _run(
        _el(0, "DataNode", "n1"),
        _edge(1, "e1", [_pt(0, 0.0, 0.0, "n1", (1.0, 0.5), (0.0, 0.0)),
                        _pt(1, 100.0, 0.0)]),
        _el(2, "Anchor", "an", graph_ref="e1",
            attachment_position=position),
        _edge(3, "e2", [_pt(0, 50.0, 50.0, "n1", (0.0, 1.0)),
                        _pt(1, 40.0, 0.0, "an")]))
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


def test_dangling_group_ref_and_graph_ref_do_not_throw():
    got, _ = _run(
        _el(0, "DataNode", "n1", x=3.0, group_ref="nowhere"),
        _el(1, "State", "st", graph_ref="nobody", zorder=None,
            attachment_relative_offset=np.array([0.5, 0.5])),
        _edge(2, "e1", [_pt(0, 0.0, 0.0, "nobody", (1.0, 0.5), (0.5, 0.0)),
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
    got = assemble_document(pd.DataFrame([
        _el(2, "DataNode", "dup", width=10.0, zorder=7.0),
        _el(0, "DataNode", "dup", width=50.0, zorder=3.0),
        _el(3, "State", "st", graph_ref="dup", zorder=None,
            attachment_relative_offset=np.array([1.0, 0.0])),
        _edge(4, "e1", [_pt(0, 0.0, 0.0, "dup", (1.0, 0.5), (1.0, 0.0)),
                        _pt(1, 9.0, 9.0)]),
    ]))
    by_idx = {r["elem_idx"]: r for r in got.to_dict("records")}
    # the rows arrive out of order; document order is elem_idx
    assert by_idx[2]["burrs"] == ["st"] and _null(by_idx[0]["burrs"])
    assert by_idx[3]["z_index"] == 7.0
    assert list(by_idx[3]["attachment_offset"]) == [10.0, 0.0]
    assert by_idx[4]["points"][0]["attachment_offset"] == [10.0, 0.0]


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
