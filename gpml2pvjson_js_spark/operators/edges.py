"""Edge entities: marker -> ontology typing (J11), markerStart/markerEnd,
drawAs and the has-Points stroke/fill converters
(ref: src/edge/edge.ts:92-383, src/2013a/ValueConverters.ts:339-386).

Point attachment (J7), the anchor hop (an edge attaches to another
EDGE via an anchor) and the Elbow/Curved waypoints are resolved per
document, in memory, by the document kernel (document.py);
`build_edges` joins its output onto the converted edges.

Marker typing is an F.aggregate over the points array against a
broadcast literal map (16-row MarkerMappings dimension).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .entities import DOC_KEY
from ..functions import converters as C
from ..functions.mappings import MARKER_MAPPINGS

_EDGE_NAMES = ("Interaction", "GraphicalLine")


def _marker_types_map() -> Column:
    """marker -> array of SBO/WP type terms (the bp record is excluded
    from `type`, matching unionLSV's primitive filter —
    src/spinoffs/jsonld-utils.ts:56-89)."""
    pairs = []
    for marker, m in MARKER_MAPPINGS.items():
        terms = list(m["sbo"]) + ([m["wp"]] if m["wp"] else [])
        pairs.extend([F.lit(marker), F.array(*[F.lit(t) for t in terms])])
    return F.create_map(*pairs)


_EDGE_EXPRS: tuple | None = None


def _edge_exprs() -> tuple:
    """convert_edges' point-struct transform and output projection —
    pure functions of module constants and literal column names,
    built once per process (same memo pattern as
    entities._nodeish_exprs; ~2.3k py4j round-trips per build)."""
    global _EDGE_EXPRS
    if _EDGE_EXPRS is not None:
        return _EDGE_EXPRS
    has_points = F.lit(True)

    pts = F.transform(
        "points",
        lambda p: F.struct(
            p.idx.alias("idx"),
            p.x.alias("x"),
            p.y.alias("y"),
            C.map_value(p.arrow_head).alias("marker"),
            p.graph_ref.alias("graph_ref"),
            C.rel_position_scalar(p.rel_x).alias("pos_x"),
            C.rel_position_scalar(p.rel_y).alias("pos_y"),
            C.rel_offset_scalar(p.rel_x).alias("roff_x"),
            C.rel_offset_scalar(p.rel_y).alias("roff_y"),
        ),
    )
    mmap = _marker_types_map()
    # processType parity (src/Processor.ts:373-393): an edge with an
    # Xref gains the "DB:ID" CURIE type, same as DataNodes (observed:
    # WP1818 Reactome-converted interactions)
    curie = F.when(
        F.col("xref_datasource").isNotNull()
        & F.col("xref_identifier").isNotNull(),
        F.array(F.concat_ws(":", "xref_datasource", "xref_identifier")),
    ).otherwise(F.array().cast("array<string>"))
    base_types = F.array_union(
        F.array(F.col("gpml_element_name"), F.lit("Edge")), curie)
    marker_types = F.aggregate(
        "pts",
        base_types,
        lambda acc, p: F.when(
            p.marker.isNotNull(),
            F.array_union(
                acc,
                F.coalesce(F.element_at(mmap, p.marker),
                           F.array().cast("array<string>")),
            ),
        ).otherwise(acc),
    )

    outcols = {
            "id": F.col("graph_id"),
            "kaavio_type": F.lit("Edge"),
            "marker_start": F.element_at("pts", 1).marker,
            "marker_end": F.when(F.size("pts") > 1,
                                 F.element_at("pts", -1).marker),
            "types": marker_types,
            "draw_as": F.concat(F.col("eff_connector_type"), F.lit("Line")),
            "stroke": C.css_color(F.col("eff_color")),
            "stroke_width": C.stroke_width(
                F.col("eff_line_thickness"), F.col("eff_shape_type"),
                has_points),
            "stroke_dasharray": C.stroke_dasharray(F.col("eff_line_style")),
            "fill": C.fill(F.col("eff_fill_color"), F.col("eff_shape_type"),
                           has_points),
            "z_index": F.col("zorder"),
            "citations": F.when(
                F.col("biopax_refs").isNotNull(),
                F.transform(F.col("biopax_refs"),
                            lambda r: F.concat(F.lit("publicationXref"), r)),
            ),
    }
    _EDGE_EXPRS = (pts, outcols)
    return _EDGE_EXPRS


_EDGE_COLS = [
    *DOC_KEY, "id", "pathway_id", "elem_idx", "gpml_element_name",
    "kaavio_type", "types", "marker_start", "marker_end", "draw_as",
    "stroke", "stroke_width", "stroke_dasharray", "fill", "z_index",
    "citations", "comments", "group_ref", "xref_datasource",
    "xref_identifier"]
# the columns the document kernel derives for an edge (document.py)
_EDGE_DERIVED = [
    "is_attached_to", "point_targets", "endpoint_first_ref",
    "endpoint_last_ref", "points", "is_part_of", "burrs"]


def convert_edges(converted: DataFrame) -> DataFrame:
    """Edge mentions -> edge entities, without the columns the
    document kernel derives (_EDGE_DERIVED).

    drawAs = ConnectorType + 'Line' (P12); stroke/fill/strokeWidth use
    the has-Points branch of the converters
    (ref: src/2013a/ValueConverters.ts:339-386). The projection
    expressions are memoized per process (_edge_exprs)."""
    e = converted.filter(F.col("gpml_element_name").isin(*_EDGE_NAMES))
    pts, outcols = _edge_exprs()
    return e.withColumn("pts", pts).withColumns(outcols) \
        .select(*_EDGE_COLS)


def build_edges(converted: DataFrame, derived: DataFrame) -> DataFrame:
    """Edge entities with the columns the document kernel derived for
    them (`derived`, keyed (url, frag, elem_idx)): resolved points
    with Elbow/Curved waypoints, isAttachedTo after the anchor hop,
    the point targets and endpoint refs that interaction
    classification reads, isPartOf and burrs."""
    return convert_edges(converted).join(
        derived.select(*DOC_KEY, "elem_idx", *_EDGE_DERIVED),
        [*DOC_KEY, "elem_idx"]).select(*_EDGE_COLS, *_EDGE_DERIVED)
