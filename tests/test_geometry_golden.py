"""Geometry kernel vs the reference golden fixtures: every
edge-elbow-* / edge-curved-* expected output is reproduced
float-for-float by calculate_all_points given only the explicit
(first/last) points. Pure Python — no Spark session needed."""

import glob
import json
import math
import os

import pytest

from gpml2pvjson_js_spark.functions.geometry import calculate_all_points
from gpml2pvjson_js_spark.golden import EXPECTED_DIR as GOLDEN_DIR

FIXTURES = sorted(
    os.path.basename(p)[:-5]
    for p in glob.glob(f"{GOLDEN_DIR}/edge-elbow-*.json")
    + glob.glob(f"{GOLDEN_DIR}/edge-curved-*.json")
)
needs_goldens = pytest.mark.skipif(
    not os.path.isdir(GOLDEN_DIR),
    reason=f"reference goldens absent: {GOLDEN_DIR} not found")


def _norm_point(p):
    return {
        "x": p["x"], "y": p["y"],
        "is_attached_to": p.get("isAttachedTo"),
        "orientation": p.get("orientation"),
        "attachment_position": (p.get("attachmentDisplay") or {})
        .get("position"),
    }


@needs_goldens
@pytest.mark.parametrize("name", FIXTURES or [None])
def test_golden_waypoints(name):
    with open(f"{GOLDEN_DIR}/{name}.json") as f:
        doc = json.load(f)
    edges = [v for v in doc["entitiesById"].values() if "points" in v
             and v.get("gpmlElementName") != "Anchor"]
    assert edges, name
    for edge in edges:
        golden_points = edge["points"]
        # fixtures whose GPML inputs carry user-dragged waypoints
        # (their intermediates are not axis-aligned — impossible from
        # the implicit-waypoint synthesis): kernel passes them through
        explicit_input = "waypoint" in name or name.endswith(
            "top1-to-bottom1")
        if explicit_input:
            # user-specified waypoint: all points were explicit;
            # kernel must pass them through unchanged
            inputs = [_norm_point(p) for p in golden_points]
        else:
            inputs = [_norm_point(golden_points[0]),
                      _norm_point(golden_points[-1])]
        got = calculate_all_points(inputs)
        assert len(got) == len(golden_points), \
            f"{name}: {len(got)} != {len(golden_points)}"
        for g, exp in zip(got, golden_points):
            assert math.isclose(g["x"], exp["x"], abs_tol=1e-9), \
                (name, g, exp)
            assert math.isclose(g["y"], exp["y"], abs_tol=1e-9), \
                (name, g, exp)


@needs_goldens
def test_fixture_inventory():
    # the reference ships 40+ elbow/curved goldens; make sure we found
    # them (guards against a silently-empty parametrization)
    assert len(FIXTURES) >= 40


class TestAngleMath:
    """Pin the full F1 angle surface (geom-utils.ts:199-306,
    Angle.ts:28-140) — JS-semantics edge cases included."""

    def test_add_angles_wraps_negative_up(self):
        from gpml2pvjson_js_spark.functions import geometry as g
        # JS: (-pi/2 + 0) % TAU is negative -> +TAU
        assert g.add_angles(-math.pi / 2, 0.0) == pytest.approx(
            3 * math.pi / 2)
        assert g.add_angles(math.pi, math.pi) == pytest.approx(0.0)
        assert g.add_angles(3 * math.pi, math.pi / 2) == pytest.approx(
            math.pi + math.pi / 2)

    def test_reverse_and_flip(self):
        from gpml2pvjson_js_spark.functions import geometry as g
        assert g.reverse_angle(0.0) == pytest.approx(math.pi)
        assert g.reverse_angle(3 * math.pi / 2) == pytest.approx(
            math.pi / 2)
        assert g.flip_orientation([1, 0]) == [-1, 0]
        assert g.flip_orientation([0, -1]) == [0, 1]
        for side, want in [("right", "left"), ("left", "right"),
                           ("top", "bottom"), ("bottom", "top")]:
            assert g.flip_side(side) == want

    def test_cross_product_sign_convention(self):
        from gpml2pvjson_js_spark.functions import geometry as g
        assert g.cross_product([1, 0], [0, 1]) == 1
        assert g.cross_product([0, 1], [1, 0]) == -1
        assert g.cross_product([2, 3], [4, 6]) == 0

    def test_min_angle_between_vectors_domain(self):
        from gpml2pvjson_js_spark.functions import geometry as g
        assert g.min_angle_between_vectors(0.5, 2.0) == pytest.approx(1.5)
        with pytest.raises(ValueError):
            g.min_angle_between_vectors(-0.1, 1.0)
        with pytest.raises(ValueError):
            g.min_angle_between_vectors(0.0, 2 * math.pi)

    def test_angle_of_emanation_unnormalized(self):
        from gpml2pvjson_js_spark.functions import geometry as g
        # reference returns raw Math.atan2 — (-pi, pi], NOT [0, TAU)
        assert g.angle_of_emanation([0, -1]) == pytest.approx(
            -math.pi / 2)
        assert g.angle_of_emanation([-1, 0]) == pytest.approx(math.pi)

    def test_angle_at_point_tangent_window(self):
        from gpml2pvjson_js_spark.functions import geometry as g
        horiz = [{"x": 0, "y": 0}, {"x": 100, "y": 0}]
        assert g.angle_at_point(horiz, 0.5) == pytest.approx(0.0)
        # elbow corner: the 0.02 window straddles the bend, so the
        # tangent is the chord over the two sampled points
        bend = [{"x": 0, "y": 0}, {"x": 10, "y": 0}, {"x": 10, "y": 10}]
        got = g.angle_at_point(bend, 0.5)
        x0, y0, _ = g.polyline_position(bend, 0.49)
        x1, y1, _ = g.polyline_position(bend, 0.51)
        assert got == pytest.approx(math.atan2(y1 - y0, x1 - x0))
        # clamping at the ends keeps the window inside [0, 1]
        assert g.angle_at_point(horiz, 0.0) == pytest.approx(0.0)
        assert g.angle_at_point(horiz, 1.0) == pytest.approx(0.0)

    def test_normalize_half_and_directions(self):
        from gpml2pvjson_js_spark.functions import geometry as g
        assert g.normalize_half(3 * math.pi / 2) == pytest.approx(
            -math.pi / 2)
        assert g.normalize_half(math.pi) == pytest.approx(-math.pi)
        assert g.shortest_direction(0.1, 0.2) == -1
        assert g.shortest_direction(0.2, 0.1) == 1
        assert g.shortest_direction(1.0, 1.0) == 0
        # wrap-around: from 350deg to 10deg, right is shorter
        a350, a10 = g.degrees_to_radians(350), g.degrees_to_radians(10)
        assert g.shortest_direction(a350, a10) == -1

    def test_between_and_diff(self):
        from gpml2pvjson_js_spark.functions import geometry as g
        q1, q3 = math.pi / 4, 3 * math.pi / 4
        assert g.angle_between(math.pi / 2, q1, q3)
        assert not g.angle_between(math.pi, q1, q3)
        # arc crossing zero
        assert g.angle_between(0.1, 3 * math.pi / 2, math.pi / 4)
        assert g.angle_diff(0.5, 3.0) == pytest.approx(2.5)
        # diff is NOT shortest-way; distance is
        near_tau = 2 * math.pi - 0.2
        assert g.angle_diff(0.0, near_tau) == pytest.approx(near_tau)
        from gpml2pvjson_js_spark.functions.geometry import angle_distance
        assert angle_distance(0.0, near_tau) == pytest.approx(0.2)

    def test_degree_radian_round_trip(self):
        from gpml2pvjson_js_spark.functions import geometry as g
        for deg in (0.0, 45.0, 180.0, 359.5, -90.0):
            assert g.radians_to_degrees(
                g.degrees_to_radians(deg)) == pytest.approx(deg)

    def test_emanation_angle_maps_round_trip(self):
        from gpml2pvjson_js_spark.functions import geometry as g
        for side, ang in g.SIDE_TO_EMANATION_ANGLE.items():
            assert g.start_side_by_orientation(
                g.SIDE_TO_ORIENTATION[side]) == side
            assert g._EMANATION_ANGLE_TO_SIDE[ang] == side

    def test_gon_sincos_quadrant_compass_lerp(self):
        from gpml2pvjson_js_spark.functions import geometry as g
        assert g.to_gon(math.pi) == pytest.approx(200.0)
        # fromSinCos recovers the angle across all four quadrants
        for ang in (0.3, 2.0, math.pi + 0.5, 2 * math.pi - 0.3):
            assert g.from_sin_cos(
                math.sin(ang), math.cos(ang)) == pytest.approx(ang)
        # quadrant: 1-based CCW regions, 0 exactly on an axis
        assert g.quadrant(1, 1) == 1
        assert g.quadrant(-1, 1) == 2
        assert g.quadrant(-1, -1) == 3
        assert g.quadrant(1, -1) == 4
        assert g.quadrant(1, 0) == 0
        # compass: 0 = N, quarter-turn = E (course in radians)
        assert g.compass(0.0) == "N"
        assert g.compass(math.pi / 2) == "E"
        assert g.compass(math.pi) == "S"
        assert g.compass(3 * math.pi / 2) == "W"
        assert g.compass(2 * math.pi - 0.01) == "N"
        # lerp: default direction takes the unwrapped-minus-revolution
        # path; explicit CW/CCW follow the requested direction
        assert g.angle_lerp(0.0, math.pi / 2, 0.5) == pytest.approx(
            (0.0 + 0.5 * (math.pi / 2 + 2 * math.pi)) % (2 * math.pi))
        assert g.angle_lerp(1.0, 1.0, 0.7) == 1.0
        assert g.angle_lerp(0.0, math.pi / 2, 0.5, 1) == pytest.approx(
            0.5 * (math.pi / 2 - 2 * math.pi) % (2 * math.pi))
        assert g.angle_lerp(0.0, math.pi / 2, 0.5, -1) == pytest.approx(
            math.pi / 4)
