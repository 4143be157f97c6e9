"""Per-document assembly kernel: every GraphId/GroupId reference inside
one document resolved in memory, in one grouped-map pass.

The reference resolves a document's references in one in-memory pass
(src/2013a/toPvjson.ts:470-710), and every reference is scoped to its
(url, frag). So one `groupBy(url, frag).applyInPandas` call hands each
document's narrow element rows (`kernel_input`) to `assemble_document`,
which derives, in dependency order:

1. states: ZOrder inherited from the parent, burr offset against the
   parent's size (J3/J8, ref: src/Processor.ts:251-276);
2. groups: bounding box over node and edge-endpoint members; empty
   groups are dropped and nested groups are not bbox members (A3/P21,
   ref: src/group.ts:28-150, src/2013a/toPvjson.ts:781);
3. edge points: attachment against node/state/group/anchor targets,
   with the anchor hop to the anchor's edge (J7,
   ref: src/edge/edge.ts:148-317);
4. Elbow/Curved waypoints, via `waypoints.resolve_document` (F4/F5);
5. members re-based to their group's origin, gaining isPartOf (A4,
   ref: src/2013a/toPvjson.ts:800-860);
6. burrs on their hosts, group and pathway `contains`, each sorted by
   zIndex with nulls first and ties by id (J8/O1,
   ref: src/2013a/toPvjson.ts:663-667,680-710,791-798).

A GraphId (or GroupId) that repeats inside one document resolves to the
last element carrying it in document order, like the reference's
`entitiesById` overwrite.

The output has one row per kept element, keyed (url, frag, elem_idx),
holding its derived columns, plus one row per document with a null
elem_idx holding the pathway's `contains`.

Bound: the kernel sees a whole document at once, so one document's
narrow rows (about 20 columns per element) must fit in one Python
worker's memory; a page with tens of thousands of elements is still a
few MB. Like the waypoint pass, the input is ONE frame; `cogroup`
segfaulted inside pyarrow 16.1's `arrow_to_pandas`.
"""

from __future__ import annotations

from collections import defaultdict

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from . import edges as E
from . import waypoints as W
from .entities import DOC_KEY

_NAN = float("nan")
_FREE = ("DataNode", "Shape", "Label")
_NODE_LIKE = (*_FREE, "State")
# group bbox members: re-based into their group, hosts of burrs, and
# the elements whose zIndex a group's contains sorts by
_GEO = (*_NODE_LIKE, *E._EDGE_NAMES)
_BURRS = ("State", "Anchor")
_ELEMENTS = (*_NODE_LIKE, "Group", "Anchor", *E._EDGE_NAMES)

_D, _S = T.DoubleType(), T.StringType()
_DOUBLES, _STRINGS = T.ArrayType(_D), T.ArrayType(_S)


def _struct(*fields) -> T.StructType:
    return T.StructType([T.StructField(n, t) for n, t in fields])


_POINT = _struct(("x", _D), ("y", _D), ("is_attached_to", _S),
                 ("attachment_position", _DOUBLES),
                 ("attachment_offset", _DOUBLES),
                 ("orientation", _DOUBLES), ("marker", _S))
# points and point_targets hold non-null elements, as the edges' schema
# always has
SCHEMA = _struct(
    ("url", _S), ("frag", T.IntegerType()), ("elem_idx", T.IntegerType()),
    ("x", _D), ("y", _D), ("width", _D), ("height", _D), ("z_index", _D),
    ("attachment_offset", _DOUBLES),
    ("points", T.ArrayType(_POINT, containsNull=False)),
    ("is_attached_to", _STRINGS),
    ("point_targets", T.ArrayType(
        _struct(("elem", _S), ("point_ref", _S)), containsNull=False)),
    ("endpoint_first_ref", _S), ("endpoint_last_ref", _S),
    ("is_part_of", _S), ("burrs", _STRINGS), ("contains", _STRINGS))
_DERIVED = SCHEMA.names[3:]


def kernel_input(converted: DataFrame) -> DataFrame:
    """One narrow row per element; `gpml_element_name` is the role.
    Edges carry their points with the rel scalars and markers computed
    by the same expressions as convert_edges."""
    pts, outcols = E._edge_exprs()
    return converted.filter(
        F.col("gpml_element_name").isin(*_ELEMENTS)).select(
        *DOC_KEY, "elem_idx", "gpml_element_name",
        F.col("graph_id").alias("id"), "group_id", "group_ref",
        "graph_ref", "zorder", "x", "y",
        F.col("width_out").alias("width"),
        F.col("height_out").alias("height"), "padding", "stroke_width",
        "attachment_position", "attachment_relative_offset",
        "attachment_offset",
        F.coalesce(outcols["draw_as"].isin(*W._CURVY), F.lit(False))
        .alias("curvy"),
        pts.alias("pts"))


def resolve_documents(converted: DataFrame) -> DataFrame:
    """The kernel over every document: lazy, the caller stages it."""
    return kernel_input(converted).groupBy(*DOC_KEY).applyInPandas(
        assemble_document, SCHEMA)


def _null(v) -> bool:
    return v is None or v != v


def _num(v) -> float:
    """Arrow hands a null double over as None or NaN; arithmetic on
    NaN gives NaN, which goes back to Spark as null, like null
    arithmetic in Catalyst. (So a coordinate that is NaN, not null,
    in Spark also comes back null.)"""
    return _NAN if v is None else v


def _min(vals) -> float:
    vals = [v for v in vals if not _null(v)]
    return min(vals) if vals else _NAN


def _max(vals) -> float:
    vals = [v for v in vals if not _null(v)]
    return max(vals) if vals else _NAN


def _z_sorted(items) -> list[str]:
    """(z, id) pairs -> ids, ordered like Spark's array_sort of
    struct(z, id): null z first, then ascending z, ties by id."""
    return [i for _, i in sorted(
        items, key=lambda zi: (not _null(zi[0]),
                               0.0 if _null(zi[0]) else zi[0], zi[1]))]


def _orientation_scalar(pos) -> float:
    """converters.orientation_scalar: a null position gives 0.0."""
    return -1.0 if pos == 0.0 else 1.0 if pos == 1.0 else 0.0


def _edge_box(pts) -> tuple:
    """An edge member's box from its first and last explicit points
    (least/greatest skip nulls, like Catalyst's)."""
    if pts is None or len(pts) == 0:
        return _NAN, _NAN, _NAN, _NAN
    xs = (pts[0]["x"], pts[-1]["x"])
    ys = (pts[0]["y"], pts[-1]["y"])
    x, y = _min(xs), _min(ys)
    return x, y, x + (_max(xs) - x), y + (_max(ys) - y)


def _group_box(group: dict, members: list[dict]) -> None:
    """Bounding box of a group's node and edge members plus padding
    and stroke width; zIndex is the members' least."""
    boxes = []
    for m in members:
        if m["gpml_element_name"] in _NODE_LIKE:
            boxes.append((m["x"], m["y"], _num(m["x"]) + _num(m["width"]),
                          _num(m["y"]) + _num(m["height"]), m["z_index"]))
        else:
            boxes.append((*_edge_box(m["pts"]), m["z_index"]))
    min_x, min_y = _min(b[0] for b in boxes), _min(b[1] for b in boxes)
    max_x, max_y = _max(b[2] for b in boxes), _max(b[3] for b in boxes)
    pad = _num(group["padding"]) + _num(group["stroke_width"])
    group.update(x=min_x - pad, y=min_y - pad,
                 width=max_x - min_x + 2 * pad,
                 height=max_y - min_y + 2 * pad,
                 z_index=_min(b[4] for b in boxes))


def _resolve_points(edge: dict, target) -> None:
    """Each explicit point against the element its GraphRef names;
    `target(ref)` is that element when it can be attached to."""
    pts = edge["pts"]
    if pts is None or len(pts) == 0:
        edge["points"] = None if pts is None else []
        return
    points, edge_refs, targets = [], [], []
    for p in pts:
        ref = p["graph_ref"]
        t = target(ref)
        point = {"x": p["x"], "y": p["y"], "is_attached_to": ref,
                 "attachment_position": None, "attachment_offset": None,
                 "orientation": None, "marker": p["marker"]}
        edge_ref = None
        if t is not None and t["gpml_element_name"] == "Anchor":
            # the anchor hop: the edge attaches to the anchor's edge.
            # attachment_position stays the numpy array Arrow delivers
            # (see ROADMAP item 3 on the defect this keeps).
            edge_ref = t["graph_ref"]
            point["attachment_position"] = t["attachment_position"]
            point["attachment_offset"] = [0.0, 0.0]
        elif ref is not None:
            width = _num(t["width"]) if t is not None else _NAN
            height = _num(t["height"]) if t is not None else _NAN
            point["attachment_position"] = [p["pos_x"], p["pos_y"]]
            point["attachment_offset"] = [p["roff_x"] * width,
                                          p["roff_y"] * height]
            if t is not None:
                edge_ref = ref
                sign = 1.0 if p["idx"] == 0 else -1.0
                point["orientation"] = [
                    sign * _orientation_scalar(p["pos_x"]),
                    sign * _orientation_scalar(p["pos_y"])]
        points.append(point)
        edge_refs.append(edge_ref)
        if ref is not None:
            targets.append({"elem": None if t is None
                            else t["gpml_element_name"], "point_ref": ref})
    edge["points"] = points
    edge["is_attached_to"] = [r for r in edge_refs if r is not None] or None
    edge["point_targets"] = targets
    edge["endpoint_first_ref"] = edge_refs[0]
    edge["endpoint_last_ref"] = edge_refs[-1]


def _synthesize_waypoints(edges: list[dict]) -> None:
    """The waypoint pass over this document's edges, through
    waypoints.resolve_document and its level order and MAX_ROUNDS."""
    if not any(e["curvy"] for e in edges):
        return
    pdf = pd.DataFrame({
        "pos": range(len(edges)),
        W._ROLE: [bool(e["curvy"]) for e in edges],
        **{c: [e.get(c) for e in edges]
           for c in ("id", "endpoint_first_ref", "endpoint_last_ref",
                     "is_attached_to", "points")},
    })
    out = W.resolve_document(pdf)
    for pos, points in zip(out["pos"], out["points"]):
        edges[pos]["points"] = points


def assemble_document(pdf: pd.DataFrame) -> pd.DataFrame:
    """One document's element rows (kernel_input) -> its derived
    columns (SCHEMA)."""
    els = sorted(pdf.to_dict("records"), key=lambda e: e["elem_idx"])
    url, frag = els[0]["url"], els[0]["frag"]
    by_id = {e["id"]: e for e in els}
    groups = {e["group_id"]: e for e in els
              if e["gpml_element_name"] == "Group"}

    # 1. states
    for e in els:
        e["z_index"] = e["zorder"]
        if e["gpml_element_name"] == "State":
            parent = by_id.get(e["graph_ref"], {})
            if _null(e["z_index"]):
                e["z_index"] = parent.get("zorder")
            rel = e["attachment_relative_offset"]
            if rel is not None:
                e["attachment_offset"] = [
                    rel[0] * _num(parent.get("width")),
                    rel[1] * _num(parent.get("height"))]

    # 2. groups: membership by GroupRef, bbox over node/edge members
    members = defaultdict(list)
    for e in els:
        g = groups.get(e["group_ref"]) \
            if e["group_ref"] is not None else None
        if g is not None:
            e["group"] = g
            members[g["elem_idx"]].append(e)
    kept = set()
    for g in groups.values():
        geo = [m for m in members[g["elem_idx"]]
               if m["gpml_element_name"] in _GEO]
        if geo:
            _group_box(g, geo)
            kept.add(g["elem_idx"])

    def kept_group(e) -> bool:
        return e["gpml_element_name"] == "Group" and e["elem_idx"] in kept

    # 3. edge points, 4. waypoints
    def target(ref):
        t = by_id.get(ref) if ref is not None else None
        if t is not None and (t["gpml_element_name"] in
                              (*_NODE_LIKE, "Anchor") or kept_group(t)):
            return t
        return None

    edges = [e for e in els if e["gpml_element_name"] in E._EDGE_NAMES]
    for e in edges:
        _resolve_points(e, target)
    _synthesize_waypoints(edges)

    # 5. rebase members of kept groups
    for e in els:
        g = e.get("group")
        name = e["gpml_element_name"]
        if g is None or g["elem_idx"] not in kept or name not in _GEO:
            continue
        e["is_part_of"] = g["id"]
        gx, gy = _num(g["x"]), _num(g["y"])
        if name in _NODE_LIKE:
            e["x"], e["y"] = _num(e["x"]) - gx, _num(e["y"]) - gy
        elif e["points"] is not None:
            e["points"] = [{**p, "x": _num(p.get("x")) - gx,
                            "y": _num(p.get("y")) - gy}
                           for p in e["points"]]

    # 6. burrs, group contains, pathway contains
    burrs = defaultdict(list)
    for e in els:
        if e["gpml_element_name"] in _BURRS:
            host = by_id.get(e["graph_ref"])
            if host is not None and (
                    host["gpml_element_name"] in _GEO or kept_group(host)):
                burrs[host["elem_idx"]].append((e["z_index"], e["id"]))
    for e in els:
        if e["elem_idx"] in burrs:
            e["burrs"] = _z_sorted(burrs[e["elem_idx"]])
        if kept_group(e):
            e["contains"] = _z_sorted(
                (m["z_index"] if m["gpml_element_name"] in _GEO else None,
                 m["id"]) for m in members[e["elem_idx"]])
    top = [(e["z_index"], e["id"]) for e in els
           if (e["gpml_element_name"] in (*_FREE, *E._EDGE_NAMES)
               or kept_group(e)) and e.get("is_part_of") is None]

    rows = [e for e in els
            if e["gpml_element_name"] != "Group" or kept_group(e)]
    rows.append({"contains": _z_sorted(top)})
    out = pd.DataFrame([{c: r.get(c) for c in _DERIVED} for r in rows],
                       columns=_DERIVED)
    out.insert(0, "elem_idx", pd.array(
        [r.get("elem_idx") for r in rows], dtype="Int32"))
    out.insert(0, "frag", frag)
    out.insert(0, "url", url)
    return out
