"""The frames the one pass per page (document.py) emits, and their
projection out of its one staged output.

The pass's output is ONE frame (SCHEMA): a `role` column naming the
frame a row belongs to, and the union of the frames' columns. The roles
are the page's `mentions` (MENTIONS_SCHEMA; the `_error` rows are the
`quarantine` role), its `text`, and what the document compiler makes
of the ok mentions: the five model frames (nodes, edges, citations,
vocabularies, pathways), the BioPAX `interactions`, the triples
(`model_triples`, and the `interaction_triples` that are not among
them), the JSON-LD `documents` and the `linked` mentions. Each
distinct triple is staged once: its row also carries its subject and
object rewritten to their canonical ids (`canonical_subj`,
`canonical_obj`, canonicalize.py), so the triples and the canonical
triples are two projections of the same rows. `select_frame` projects
roles back to a frame's exact schema (FRAMES by default).

A staging laid out for the snapshots (plans/pipeline.py,
`SnapshotStore.layout`) also carries the layout's key columns, `bucket`
and the write salt, after SCHEMA's; every projection keeps them last,
so its commit needs no exchange of its own.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from .parse import MENTIONS_SCHEMA

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
_TRIPLE = (*_KEY, ("pathway_id", _S), ("subj", _S), ("pred", _S),
           ("obj", _S))
TRIPLES = _struct(*_TRIPLE)
# a staged triple: the triple, then its subject and object as
# canonicalize_document rewrites them
STAGED_TRIPLES = _struct(*_TRIPLE, ("canonical_subj", _S),
                         ("canonical_obj", _S))
# the staged field each TRIPLES field of a canonical triple reads
CANONICAL = {"subj": "canonical_subj", "obj": "canonical_obj"}
DOCUMENTS = _struct(*_KEY, ("pathway_id", _S), ("jsonld", _S))
LINKED = _struct(*_KEY, ("id", _S), ("canonical_iri", _S),
                 ("link_method", _S), ("link_score", _D))
# the quarantined mentions, every field nullable, as a filter of the
# committed mentions gave them
QUARANTINE = T.StructType([T.StructField(f.name, f.dataType)
                           for f in MENTIONS_SCHEMA.fields])
# a page's text (parse.text_schema gives the nullability of a pages
# frame's own)
TEXT = _struct(("url", _S), ("extracted_text", _S))
MODEL_FRAMES = ("nodes", "edges", "citations", "vocabularies", "pathways")
# each role's rows as the pass stages them
FRAMES = {"nodes": NODES, "edges": EDGES, "citations": CITATIONS,
          "vocabularies": VOCABULARIES, "pathways": PATHWAYS,
          "interactions": INTERACTIONS, "model_triples": STAGED_TRIPLES,
          "interaction_triples": STAGED_TRIPLES, "documents": DOCUMENTS,
          "linked": LINKED, "mentions": MENTIONS_SCHEMA,
          "quarantine": QUARANTINE, "text": TEXT}


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
# a null in a non-nullable field commits as this literal
ZERO = {_D: 0.0, _I: 0, _S: ""}
_ZERO_SQL = {_D: "0.0D", _I: "0", _S: "''"}


def _sql(name: str, f: T.StructField) -> str:
    """The expression that reads field `f` from column `name`: the
    column itself, or, for a non-nullable field, the column with its
    nulls coalesced, which only restores the frame's declared
    nullability (the role holds no null there)."""
    col = f"`{name}`"
    if f.nullable:
        return col
    zero = "array()" if isinstance(f.dataType, T.ArrayType) \
        else _ZERO_SQL[f.dataType]
    return f"coalesce({col}, {zero})"


def select_frame(out: DataFrame, role: str, *more: str,
                 frame: T.StructType | None = None,
                 read: dict | None = None) -> DataFrame:
    """The rows of one role, or of several roles of the same staged
    schema, out of the pass's output, as `frame` (FRAMES[role] by
    default): each of its fields read from the staged field `read`
    names for it (the field of the same name by default), then the
    layout's key columns when `out` carries them. One filter and one
    `selectExpr` of SQL strings, so a projection costs a few py4j
    calls per field rather than a Column object per operator."""
    frame, read = frame or FRAMES[role], read or {}
    exprs = [f"{_sql(COLUMN_OF[role, read.get(f.name, f.name)], f)} "
             f"AS `{f.name}`" for f in frame.fields]
    exprs += [f"`{c}`" for c in out.columns if c not in SCHEMA.names]
    roles = ", ".join(f"'{r}'" for r in (role, *more))
    return out.filter(f"role IN ({roles})").selectExpr(*exprs)
