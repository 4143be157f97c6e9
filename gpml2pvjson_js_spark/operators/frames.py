"""The frames the document compiler (document.py) emits, and their
projection out of its one staged output.

The compiler's output is ONE frame (SCHEMA): a `role` column naming the
frame a row belongs to, and the union of the frames' columns. The roles
are the five model frames (nodes, edges, citations, vocabularies,
pathways), the BioPAX `interactions`, the triples (`model_triples`, and
the `interaction_triples` that are not among them), the JSON-LD
`documents`, the `linked` mentions and the `canonical_triples`. `select_frame` projects roles back to their frame's exact
schema (FRAMES).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

_S, _D, _I = T.StringType(), T.DoubleType(), T.IntegerType()
_STRS, _DOUBLES = T.ArrayType(_S), T.ArrayType(_D)


def _struct(*fields, required=()) -> T.StructType:
    return T.StructType([T.StructField(n, t, n not in required)
                         for n, t in fields])


_COMMENTS = T.ArrayType(_struct(("content", _S), ("source", _S)))
_POINT = _struct(("x", _D), ("y", _D), ("is_attached_to", _S),
                 ("attachment_position", _DOUBLES),
                 ("attachment_offset", _DOUBLES),
                 ("orientation", _DOUBLES), ("marker", _S))
_KEY = (("url", _S), ("frag", _I))

NODES = _struct(
    *_KEY, ("pathway_id", _S), ("elem_idx", _I), ("id", _S),
    ("gpml_element_name", _S), ("kaavio_type", _S), ("types", _STRS),
    ("text_content", _S), ("href", _S), ("wp_type", _S),
    ("state_type", _S), ("x", _D), ("y", _D), ("width", _D),
    ("height", _D), ("z_index", _D), ("draw_as", _S), ("stroke", _S),
    ("stroke_width", _D), ("stroke_dasharray", _S), ("stroke_style", _S),
    ("fill", _S), ("fill_opacity", _D), ("rotation", _D),
    ("text_rotation", _D), ("font_family", _S), ("font_size", _D),
    ("font_weight", _S), ("font_style", _S), ("text_align", _S),
    ("vertical_align", _S), ("text_decoration", _S), ("padding", _D),
    ("rx", _D), ("ry", _D), ("xref_datasource", _S),
    ("xref_identifier", _S), ("cellular_component", _S),
    ("backpage_head", _S), ("citations", _STRS), ("comments", _COMMENTS),
    ("is_attached_to", _S), ("attachment_position", _DOUBLES),
    ("attachment_relative_offset", _DOUBLES),
    ("attachment_offset", _DOUBLES), ("group_id", _S), ("group_ref", _S),
    ("is_part_of", _S), ("burrs", _STRS), ("gpml_group_id", _S),
    ("contains", _STRS),
    required=("url", "frag"))
EDGES = _struct(
    *_KEY, ("id", _S), ("pathway_id", _S), ("elem_idx", _I),
    ("gpml_element_name", _S), ("kaavio_type", _S), ("types", _STRS),
    ("marker_start", _S), ("marker_end", _S), ("draw_as", _S),
    ("stroke", _S), ("stroke_width", _D), ("stroke_dasharray", _S),
    ("fill", _S), ("z_index", _D), ("citations", _STRS),
    ("comments", _COMMENTS), ("group_ref", _S), ("xref_datasource", _S),
    ("xref_identifier", _S), ("is_attached_to", _STRS),
    ("point_targets", T.ArrayType(
        _struct(("elem", _S), ("point_ref", _S)), containsNull=False)),
    ("endpoint_first_ref", _S), ("endpoint_last_ref", _S),
    ("points", T.ArrayType(_POINT, containsNull=False)),
    ("is_part_of", _S), ("burrs", _STRS),
    required=("url", "frag", "kaavio_type"))
CITATIONS = _struct(
    *_KEY, ("pathway_id", _S), ("elem_idx", _I), ("id", _S),
    ("gpml_element_name", _S), ("xref_identifier", _S),
    ("xref_datasource", _S), ("standard_name", _S), ("source", _S),
    ("year", _I), ("authors", _STRS), ("types", _STRS),
    ("text_content", _S),
    required=("url", "frag", "gpml_element_name", "types",
              "text_content"))
VOCABULARIES = _struct(
    *_KEY, ("pathway_id", _S), ("elem_idx", _I), ("ontology", _S),
    ("term", _S), ("xref_identifier", _S), ("iri_prefix", _S),
    ("id", _S), ("types", T.ArrayType(_S, containsNull=False)),
    ("gpml_element_name", _S),
    required=("url", "frag", "types", "gpml_element_name"))
PATHWAYS = _struct(
    *_KEY, ("pathway_id", _S), ("id", _S), ("gpml_element_name", _S),
    ("kaavio_type", _S), ("name", _S), ("standard_name", _S),
    ("display_name", _S), ("text_content", _S), ("is_similar_to", _S),
    ("organism", _S), ("license", _S), ("data_source", _S),
    ("data_source_version", _S), ("author", _S), ("email", _S),
    ("maintainer", _S), ("last_modified", _S), ("width", _D),
    ("height", _D), ("comments", _COMMENTS),
    ("types", T.ArrayType(_S, containsNull=False)), ("contains", _STRS),
    required=("url", "frag", "gpml_element_name", "kaavio_type",
              "text_content", "height", "contains"))
INTERACTIONS = _struct(
    *_KEY, ("pathway_id", _S), ("id", _S), ("marker_eff", _S),
    ("biopax_type", _S), ("control_type", _S), ("controller", _S),
    ("controlled", _S), ("left", _S), ("right", _S),
    ("participants", _STRS), ("conversion_direction", _S))
TRIPLES = _struct(*_KEY, ("pathway_id", _S), ("subj", _S), ("pred", _S),
                  ("obj", _S))
DOCUMENTS = _struct(*_KEY, ("pathway_id", _S), ("jsonld", _S))
LINKED = _struct(*_KEY, ("id", _S), ("canonical_iri", _S),
                 ("link_method", _S), ("link_score", _D))
MODEL_FRAMES = ("nodes", "edges", "citations", "vocabularies", "pathways")
FRAMES = {"nodes": NODES, "edges": EDGES, "citations": CITATIONS,
          "vocabularies": VOCABULARIES, "pathways": PATHWAYS,
          "interactions": INTERACTIONS, "model_triples": TRIPLES,
          "interaction_triples": TRIPLES, "documents": DOCUMENTS,
          "linked": LINKED, "canonical_triples": TRIPLES}


def _union_schema() -> tuple[T.StructType, dict]:
    """The compiler's output schema and, per (role, field), the column
    that carries it. A field shares a column with every other frame's
    field of the same name and type; a field whose type differs gets
    its own column, `{name}_{role}`. Every column but the role is
    nullable; `select_frame` restores each frame's nullability."""
    fields = [T.StructField("role", _S, False)]
    names = {(f.name, f.dataType.json()): f.name for f in fields}
    column_of = {}
    for role, schema in FRAMES.items():
        for f in schema.fields:
            key = f.name, f.dataType.json()
            if key not in names:
                names[key] = f.name if f.name not in {g.name for g in fields} \
                    else f"{f.name}_{role}"
                fields.append(T.StructField(names[key], f.dataType))
            column_of[role, f.name] = names[key]
    return T.StructType(fields), column_of


SCHEMA, COLUMN_OF = _union_schema()
ZERO = {_D: 0.0, _I: 0, _S: ""}


def _non_null(col, dtype: T.DataType):
    """`col` as a non-nullable column of the same type: it holds no
    null for its role, so the coalesce only restores the frame's
    declared nullability."""
    if isinstance(dtype, T.ArrayType):
        return F.coalesce(col, F.array())
    return F.coalesce(col, F.lit(ZERO[dtype]))


def select_frame(out: DataFrame, role: str, *more: str) -> DataFrame:
    """The rows of one role, or of several roles of the same frame
    schema, out of the compiler's output, as that frame (FRAMES[role])."""
    cols = []
    for f in FRAMES[role].fields:
        col = F.col(COLUMN_OF[role, f.name])
        cols.append((col if f.nullable else _non_null(col, f.dataType))
                    .alias(f.name))
    roles = F.col("role")
    keep = roles.isin(role, *more) if more else roles == role
    return out.filter(keep).select(*cols)
