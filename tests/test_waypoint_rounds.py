"""Per-document level semantics of synthesize_waypoints, pinned on a
minimal frame (the corpus goldens cover fixture geometry; this pins
which curvy edges resolve at which level, and with which referenced
points). Within one (url, frag), a curvy edge is ready once none of
its `is_attached_to` refs names a curvy edge still unresolved; levels
deeper than MAX_ROUNDS and cycles pass through unchanged."""

import pytest

from pyspark.sql import types as T

from gpml2pvjson_js_spark.operators.waypoints import (
    MAX_ROUNDS, synthesize_waypoints)

POINT = T.StructType([
    T.StructField("x", T.DoubleType()),
    T.StructField("y", T.DoubleType()),
    T.StructField("is_attached_to", T.StringType()),
    T.StructField("attachment_position",
                  T.ArrayType(T.DoubleType())),
    T.StructField("attachment_offset", T.ArrayType(T.DoubleType())),
    T.StructField("orientation", T.ArrayType(T.DoubleType())),
    T.StructField("marker", T.StringType()),
])

SCHEMA = T.StructType([
    T.StructField("url", T.StringType()),
    T.StructField("frag", T.IntegerType()),
    T.StructField("id", T.StringType()),
    T.StructField("draw_as", T.StringType()),
    T.StructField("is_attached_to", T.ArrayType(T.StringType())),
    T.StructField("endpoint_first_ref", T.StringType()),
    T.StructField("endpoint_last_ref", T.StringType()),
    # non-null elements, as the document kernel's edges carry them
    T.StructField("points", T.ArrayType(POINT, containsNull=False)),
])

CHAIN_DEPTH = 6


def _pt(x, y, ref=None, pos=None, orient=None):
    return (float(x), float(y), ref, pos, None, orient, None)


def _edge(eid, draw_as, pts, refs=None, first_ref=None, last_ref=None,
          url="u"):
    return (url, 0, eid, draw_as, refs, first_ref, last_ref, pts)


def _chain():
    """k1 hangs off a node; each k(i) hangs off k(i-1) by its first
    point, so k(i) resolves at level i."""
    rows = [_edge("k1", "ElbowLine",
                  [_pt(0, 0, "n1", [1.0, 0.5], [1.0, 0.0]),
                   _pt(100, 50)], refs=["n1"])]
    for i in range(2, CHAIN_DEPTH + 1):
        prev = f"k{i - 1}"
        rows.append(_edge(
            f"k{i}", "ElbowLine", [_pt(10 * i, 25, prev), _pt(10 * i, 300)],
            refs=[prev], first_ref=prev))
    return rows


ROWS = [
    # straight edge: never enters the kernel, passes through
    _edge("s1", "StraightLine",
          [_pt(0, 0, "n1", [0.5, 0.0], [0.0, -1.0]), _pt(10, 10)]),
    # elbow attached to a NODE only -> level 1
    _edge("e1", "ElbowLine",
          [_pt(0, 0, "n1", [1.0, 0.5], [1.0, 0.0]), _pt(100, 50)],
          refs=["n1"]),
    # elbow whose ref names the still-unresolved elbow e1 -> level 2,
    # with e1's synthesized points
    _edge("e2", "ElbowLine", [_pt(30, 60, "e1"), _pt(200, 12)],
          refs=["e1"], first_ref="e1"),
    # mutually-referencing elbows: never ready, cycle passthrough
    _edge("c1", "ElbowLine",
          [_pt(0, 0, "c2", [0.5, 0.0], [0.0, 1.0]), _pt(5, 5)],
          refs=["c2"], first_ref="c2"),
    _edge("c2", "ElbowLine",
          [_pt(9, 9, "c1", [0.5, 0.0], [0.0, 1.0]), _pt(7, 7)],
          refs=["c1"], first_ref="c1"),
    # self-referencing elbow: never ready, passes through
    _edge("me", "CurvedLine",
          [_pt(3, 3, "me", [0.5, 0.0]), _pt(40, 90)],
          refs=["me"], first_ref="me"),
    # elbow anchored to the STRAIGHT edge s1 -> level 1, with s1's points
    _edge("a1", "ElbowLine", [_pt(5, 5, "s1"), _pt(80, 120)],
          refs=["s1"], first_ref="s1"),
    # the same, but the anchor carries its position on the line
    _edge("h1", "ElbowLine",
          [_pt(5, 5, "s1", [0.5, 0.0]), _pt(80, 120)],
          refs=["s1"], first_ref="s1"),
    *_chain(),
    # a second url reusing ids: its e1 is a straight edge, so its e2
    # resolves at level 1 against that document's own e1, and its c1
    # has no partner c2 there, so it is not blocked
    _edge("e1", "StraightLine", [_pt(0, 0), _pt(0, 60)], url="v"),
    _edge("e2", "ElbowLine", [_pt(30, 60, "e1"), _pt(200, 12)],
          refs=["e1"], first_ref="e1", url="v"),
    _edge("c1", "ElbowLine",
          [_pt(0, 0, "c2", [0.5, 0.0], [0.0, 1.0]), _pt(5, 5)],
          refs=["c2"], first_ref="c2", url="v"),
    # a document without curvy edges
    _edge("s1", "StraightLine", [_pt(1, 1), _pt(2, 2)], url="w"),
]


def _xy(points):
    return [(p["x"], p["y"]) for p in points]


@pytest.fixture(scope="module")
def synthesized(spark):
    edges = spark.createDataFrame(ROWS, SCHEMA)
    out = synthesize_waypoints(edges).collect()
    return [r.asDict(recursive=True) for r in out]


@pytest.fixture(scope="module")
def by_key(synthesized):
    return {(r["url"], r["id"]): r for r in synthesized}


def _input_points(eid, url="u"):
    row = next(r for r in ROWS if r[0] == url and r[2] == eid)
    return [dict(zip(POINT.names, p)) for p in row[7]]


def _expected(eid, url="u", src=None):
    """The geometry kernel applied directly, as the stage should."""
    from gpml2pvjson_js_spark.functions.geometry import (
        calculate_all_points)
    return _xy(calculate_all_points(_input_points(eid, url), src, None))


def test_every_edge_comes_back_exactly_once(synthesized):
    got = sorted((r["url"], r["id"]) for r in synthesized)
    assert got == sorted((r[0], r[2]) for r in ROWS)


def test_straight_edge_untouched(by_key):
    assert _xy(by_key["u", "s1"]["points"]) == [(0.0, 0.0), (10.0, 10.0)]


def test_node_attached_elbow_synthesizes_in_round_one(by_key):
    e1 = by_key["u", "e1"]
    # elbow synthesis adds implicit waypoints between the endpoints
    assert len(e1["points"]) > 2
    assert _xy(e1["points"]) == _expected("e1")


def test_edge_attached_elbow_waits_for_its_referenced_edge(by_key):
    # e2's ref (e1) is itself an unresolved elbow at level 1, so e2
    # resolves at level 2 — against e1's SYNTHESIZED points
    e2 = _xy(by_key["u", "e2"]["points"])
    assert e2 == _expected("e2", src=by_key["u", "e1"]["points"])
    assert e2 != _expected("e2", src=_input_points("e1"))


def test_cyclic_elbows_pass_through_unchanged(by_key):
    for cid, pts in (("c1", [(0.0, 0.0), (5.0, 5.0)]),
                     ("c2", [(9.0, 9.0), (7.0, 7.0)])):
        assert _xy(by_key["u", cid]["points"]) == pts, cid


def test_self_referencing_edge_passes_through(by_key):
    assert _xy(by_key["u", "me"]["points"]) == [(3.0, 3.0), (40.0, 90.0)]


def test_edge_anchored_to_straight_edge_gets_its_points(by_key):
    s1 = by_key["u", "s1"]["points"]
    got = _xy(by_key["u", "a1"]["points"])
    assert len(got) > 2
    assert got == _expected("a1", src=s1)
    # the straight edge's points do matter to the result
    assert got != _expected("a1")


@pytest.mark.xfail(strict=True, reason=(
    "known defect kept for the benchmark pins: Arrow hands the "
    "anchor's attachment_position over as a numpy array, whose truth "
    "test raises inside hyperedge_start_orientation, so the edge "
    "keeps its explicit points"))
def test_edge_anchored_with_position_gets_its_points(by_key):
    assert _xy(by_key["u", "h1"]["points"]) == \
        _expected("h1", src=by_key["u", "s1"]["points"])


def test_depth_six_chain_is_capped_at_max_rounds(by_key):
    assert MAX_ROUNDS == 4 < CHAIN_DEPTH
    for i in range(1, MAX_ROUNDS + 1):
        k = by_key["u", f"k{i}"]
        assert len(k["points"]) > 2, k["id"]
    for i in range(MAX_ROUNDS + 1, CHAIN_DEPTH + 1):
        k = by_key["u", f"k{i}"]
        assert _xy(k["points"]) == [(10.0 * i, 25.0), (10.0 * i, 300.0)]


def test_documents_sharing_ids_stay_independent(by_key):
    # in "v", e1 is straight: e2 resolves against it at level 1
    e2v = _xy(by_key["v", "e2"]["points"])
    assert e2v == _expected("e2", url="v",
                            src=by_key["v", "e1"]["points"])
    assert e2v != _xy(by_key["u", "e2"]["points"])
    # "v" has no c2, so its c1 is ready at level 1
    assert len(by_key["v", "c1"]["points"]) > 2

