"""Edge entities: marker -> ontology typing (J11), markerStart/markerEnd,
drawAs and the has-Points stroke/fill converters
(ref: src/edge/edge.ts:92-383, src/2013a/ValueConverters.ts:339-386),
in plain Python over one mention row.

Point attachment (J7), the anchor hop (an edge attaches to another
EDGE via an anchor) and the Elbow/Curved waypoints are resolved per
document, in memory, by the document kernel (document.py), from the
converted points `convert_edge` leaves in `pts`.
"""

from __future__ import annotations

from . import entities as N
from . import waypoints as W
from ..functions import converters as C
from ..functions.mappings import MARKER_MAPPINGS

EDGE_NAMES = ("Interaction", "GraphicalLine")

# marker -> SBO/WP type terms (the bp record is excluded from `type`,
# matching unionLSV's primitive filter — src/spinoffs/jsonld-utils.ts
# :56-89). Markers are looked up AFTER ValueMappings, so mim-* markers
# ("MimConversion") miss the "MIMConversion" keys and gain no type, as
# in the reference.
_MARKER_TYPES = {m: list(v["sbo"]) + ([v["wp"]] if v["wp"] else [])
                 for m, v in MARKER_MAPPINGS.items()}


def convert_edge(r: dict) -> dict:
    """An Interaction/GraphicalLine mention -> its edge row, before
    reference resolution: markerStart/markerEnd, marker typing (J11),
    drawAs = ConnectorType + 'Line' (P12) and the has-Points branch of
    the stroke/fill converters (ref: src/2013a/ValueConverters.ts
    :339-386)."""
    name = r["gpml_element_name"]
    eff = N.effective(r)
    pts = None
    if r["points"] is not None:
        pts = [{"idx": p["idx"], "x": p["x"], "y": p["y"],
                "marker": C.map_value(p["arrow_head"]),
                "graph_ref": p["graph_ref"],
                "pos_x": C.rel_position_scalar(p["rel_x"]),
                "pos_y": C.rel_position_scalar(p["rel_y"]),
                "roff_x": C.rel_offset_scalar(p["rel_x"]),
                "roff_y": C.rel_offset_scalar(p["rel_y"])}
               for p in r["points"]]
        if not pts:
            raise ValueError(
                "[INVALID_ARRAY_INDEX_IN_ELEMENT_AT] The index 1 is out "
                f"of bounds. The array has 0 elements. (edge "
                f"{r['graph_id']!r} of {r['url']!r} has no points)")
    types = None
    if pts is not None:
        types = C.union_types(
            [name, "Edge"], N.curie(r["xref_datasource"],
                                   r["xref_identifier"]))
        for p in pts:
            if p["marker"] is not None:
                types = C.union_types(
                    types, _MARKER_TYPES.get(p["marker"], []))
    connector = eff["connector_type"]
    draw = None if connector is None else connector + "Line"
    _, _, width, height = N.dims(r, eff)
    return {
        "id": r["graph_id"],
        "kaavio_type": "Edge",
        "types": types,
        "marker_start": pts[0]["marker"] if pts else None,
        "marker_end": pts[-1]["marker"] if pts and len(pts) > 1
        else None,
        "draw_as": draw,
        "stroke": C.css_color(eff["color"]),
        "stroke_width": C.stroke_width(eff["line_thickness"],
                                       eff["shape_type"], True),
        "stroke_dasharray": C.stroke_dasharray(eff["line_style"]),
        "fill": C.fill(eff["fill_color"], eff["shape_type"], True),
        "citations": N.citation_ids(r["biopax_refs"]),
        "curvy": draw in W._CURVY,
        "pts": pts,
        # what a State attached to the edge measures its offset by
        "width": width,
        "height": height,
    }
