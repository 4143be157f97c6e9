"""Waypoint synthesis: Elbow/Curved edges gain their implicit
intermediate points (F4/F5) via the geometry kernel.

Hyperedges (edges attached to other edges via anchors) need the
referenced edge's resolved points to pick an emanation orientation.
The reference resolves them with a topological fixpoint inside one
document (src/2013a/toPvjson.ts:470-637), and every reference is
scoped to its (url, frag), so the stage is one grouped-map pass: each
document's curvy edges, plus the narrow (id, points) pool of its
straight edges, reach one Python call that resolves them level by
level in memory. Level k holds the edges whose referenced curvy edges
all resolved in earlier levels. Levels deeper than `MAX_ROUNDS` and
cycles pass through unchanged, matching the reference's cycle
tolerance.

`resolve_document` is that per-document pass. The model build runs it
inside the document compiler (document.py), after the points
are resolved; `synthesize_waypoints` runs it as its own grouped pass
over an edges frame whose points are already resolved. There both
roles travel in ONE frame with a role flag rather than as a `cogroup`
of two frames: cogroup segfaulted inside pyarrow 16.1's
`arrow_to_pandas` on this code path.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .entities import DOC_KEY
from ..functions.geometry import calculate_all_points

# the deepest hyperedge chain in the reference golden corpus is depth 3
# (hyperedge-singleend-depth3-*), so 4 levels leave headroom; deeper
# chains pass through unchanged (reference cycle tolerance)
MAX_ROUNDS = 4
_CURVY = ("ElbowLine", "CurvedLine")
_ROLE = "_waypoint_curvy"


def _point_to_dict(p) -> dict:
    return {
        "x": p["x"], "y": p["y"],
        "is_attached_to": p.get("is_attached_to"),
        "attachment_position": p.get("attachment_position"),
        "attachment_offset": p.get("attachment_offset"),
        "orientation": p.get("orientation"),
        "marker": p.get("marker"),
    }


def _points(points) -> list[dict]:
    return [_point_to_dict(dict(p)) for p in points]


def _edge_points(points) -> list[dict] | None:
    """A referenced edge's points; None when it has none."""
    return _points(points) if points is not None and len(points) \
        else None


def resolve_document(pdf: pd.DataFrame,
                     max_rounds: int = MAX_ROUNDS) -> pd.DataFrame:
    """One document's rows -> its curvy rows with synthesized points.

    Rows with the role flag set are curvy edges; the others are the
    straight edges' (id, points) pool. A curvy edge is ready once none
    of its `is_attached_to` refs names a curvy edge still unresolved.
    Each level's ready edges take their endpoint refs' points from the
    pool as it stood when the level began, then join the pool."""
    curvy = pdf[pdf[_ROLE]].drop(columns=[_ROLE]).reset_index(drop=True)
    if curvy.empty:  # assigning no points would make the column float
        return curvy
    straight = pdf[~pdf[_ROLE]]
    pool = dict(zip(straight["id"], straight["points"]))
    ids = curvy["id"].tolist()
    firsts = curvy["endpoint_first_ref"].tolist()
    lasts = curvy["endpoint_last_ref"].tolist()
    refs = [set(r) if r is not None else set()
            for r in curvy["is_attached_to"]]
    # plain lists: Arrow cannot convert a numpy object array back to the
    # production schema's array of non-null structs
    points = [None if p is None else list(p) for p in curvy["points"]]
    pending = list(range(len(curvy)))
    for _ in range(max_rounds):
        unresolved = {ids[i] for i in pending}
        ready = [i for i in pending if not refs[i] & unresolved]
        if not ready:
            break
        level = []
        for i in ready:
            try:
                pts = calculate_all_points(
                    _points(points[i]), _edge_points(pool.get(firsts[i])),
                    _edge_points(pool.get(lasts[i])))
            except Exception:
                pts = points[i]  # degenerate geometry: keep explicit
            level.append((i, pts))
        for i, pts in level:
            points[i] = pool[ids[i]] = pts
        done = set(ready)
        pending = [i for i in pending if i not in done]
    curvy["points"] = points
    return curvy


def synthesize_waypoints(edges: DataFrame,
                         max_rounds: int = MAX_ROUNDS) -> DataFrame:
    """edges with resolved explicit points (points, is_attached_to and
    endpoint refs as the model's edges frame has them) -> edges with
    Elbow/Curved implicit waypoints made explicit.

    Straight edges pass through untouched; only their narrow
    (url, frag, id, points) projection joins the curvy edges in the
    grouped pass. Lazy: the caller stages the result."""
    is_curvy = F.coalesce(F.col("draw_as").isin(*_CURVY), F.lit(False))
    rest = edges.filter(~is_curvy)
    kernel_in = edges.filter(is_curvy).withColumn(_ROLE, F.lit(True)) \
        .unionByName(
            rest.select(*DOC_KEY, "id", "points",
                        F.lit(False).alias(_ROLE)),
            allowMissingColumns=True)
    resolved = kernel_in.groupBy(*DOC_KEY).applyInPandas(
        lambda pdf: resolve_document(pdf, max_rounds), edges.schema)
    return rest.unionByName(resolved)
